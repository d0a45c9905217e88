package graft.perfbench

import java.util.SplittableRandom

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.HashingEmbedder
import graft.operators.{Ann, Bm25, Hnsw, TextChunker}

/** Shape of a generated corpus. Documents are sentences of words drawn
  * from a Zipf(`zipfS`) law over `vocab` distinct lowercase words. */
final case class CorpusShape(docs: Int, vocab: Int, zipfS: Double,
                             sentences: (Int, Int), words: (Int, Int),
                             dim: Int, cells: Int, bm25Ranges: Int)

/** Seeded text generator: the same seed gives the same documents and
  * queries. The vocabulary is the same for every seed. */
final class TextGen(shape: CorpusShape, seed: Long) {
  private val rnd = new SplittableRandom(seed)

  /** Distinct words of 3 to 9 letters; rank i is the i-th most frequent. */
  val vocab: Array[String] = {
    val vr = new SplittableRandom(TextGen.CorpusSeed)
    val seen = new java.util.LinkedHashSet[String]()
    while (seen.size < shape.vocab) {
      val n = 3 + vr.nextInt(7)
      seen.add(Iterator.fill(n)(('a' + vr.nextInt(26)).toChar).mkString)
    }
    seen.asScala.toArray
  }

  private val cdf: Array[Double] = {
    val w = Array.tabulate(shape.vocab)(r => 1.0 / math.pow(r + 1, shape.zipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    c.map(_ / c.last)
  }

  def word(): String = {
    val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
    vocab(if (i >= 0) i else (-i - 1).min(cdf.length - 1))
  }

  private def between(r: (Int, Int)): Int = r._1 + rnd.nextInt(r._2 - r._1 + 1)

  def sentence(): String = Iterator.fill(between(shape.words))(word()).mkString(" ") + "."

  def document(): String = Iterator.fill(between(shape.sentences))(sentence()).mkString(" ")

  /** A query of 2 to 5 distinct Zipf words. */
  def query(): Seq[String] = Iterator.continually(word()).distinct.take(2 + rnd.nextInt(4)).toSeq

  def nextInt(n: Int): Int = rnd.nextInt(n)
}

object TextGen {
  /** Seed of the vocabulary and of the serve corpus. The corpus is the
    * same in every run, like a benchmark data set: IVF work per probe
    * follows the k-means cell sizes of the corpus, which move by a fifth
    * from one drawn corpus to the next. The run's seed draws the
    * requests. */
  val CorpusSeed = 0x6772616674L
}

/** The persisted layouts of one set-up. */
final case class Built(root: String, ivf: String, hnsw: String, bm25: String,
                       centroids: Array[Array[Float]]) {
  def indexBytes: Long =
    Seq(ivf, hnsw, bm25).map(p => Jvm.treeBytes(new java.io.File(p))).sum
}

/** The benchmark's own copy of a built corpus, read back after set-up:
  * the chunks the checkers score, IVF cell sizes, and BM25 ranges with
  * their posting counts. */
final case class Layout(ids: Array[Long], texts: Array[String], vecs: Array[Array[Float]],
                        cellSizes: Map[Int, Long], ranges: Seq[(Int, String, String, Long)])

object Corpus {
  val ChunkSize = 500
  val ChunkOverlap = 100
  val HnswParams: Hnsw.HnswParams = Hnsw.HnswParams()

  def docsFrame(spark: SparkSession, docs: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(docs.map { case (id, t) => Row(id, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType, nullable = false),
        StructField("text", StringType, nullable = false))))

  /** Chunk and embed `docs` with the program's operators, then build and
    * persist the IVF, HNSW-over-IVF and BM25 layouts under `root`. A
    * chunk's id is doc_id * 64 + chunk index: no document yields 64
    * chunks at these lengths. */
  def build(spark: SparkSession, shape: CorpusShape, docs: Seq[(Long, String)],
            root: String, tracer: Tracer): Built = {
    val chunksDir = s"$root/chunks"
    tracer.span("operators", "chunk_embed") {
      val chunked = TextChunker.chunkDocuments(docsFrame(spark, docs), "text",
          ChunkSize, ChunkOverlap)
        .select((col("doc_id") * 64 + col("chunk_index")).cast("long").as("vec_id"),
          ((col("doc_id") * 64 + col("chunk_index")) % 16).cast("int").as("label"),
          col("content"))
      HashingEmbedder.withEmbedding(chunked, "content", shape.dim)
        .write.mode("overwrite").parquet(chunksDir)
    }
    val chunks = spark.read.parquet(chunksDir)
    val ivf = s"$root/ivf"
    tracer.span("operators", "ivf_build") {
      Ann.saveIvf(Ann.buildIvf(chunks.select("vec_id", "label", "embedding"),
        shape.cells), ivf)
    }
    val hnsw = s"$root/hnsw"
    val index = Ann.loadIvf(spark, ivf)
    tracer.span("operators", "hnsw_build") {
      Hnsw.saveHnsw(Hnsw.buildShards(index.assigned, HnswParams),
        index.centroids, HnswParams, hnsw)
    }
    val bm25 = s"$root/bm25"
    tracer.span("operators", "bm25_build") {
      Bm25.buildPersistedIndex(chunks, "vec_id", "content", shape.bm25Ranges, bm25)
    }
    Built(root, ivf, hnsw, bm25, index.centroids)
  }

  def inspect(spark: SparkSession, b: Built): Layout = {
    val rows = spark.read.parquet(s"${b.root}/chunks").select("vec_id", "content", "embedding")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getSeq[Float](2).toArray)).sortBy(_._1)
    val cellSizes = spark.read.parquet(s"${b.ivf}/corpus").groupBy("ivf_cluster").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val postingCounts = spark.read.parquet(s"${b.bm25}/postings").groupBy("range_id").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val ranges = spark.read.parquet(s"${b.bm25}/manifest").collect().collect {
      case r if !r.isNullAt(r.fieldIndex("min_key")) =>
        val rid = r.getAs[Int]("range_id")
        (rid, r.getAs[String]("min_key"), r.getAs[String]("max_key"),
          postingCounts.getOrElse(rid, 0L))
    }.sortBy(_._1).toSeq
    Layout(rows.map(_._1), rows.map(_._2), rows.map(_._3), cellSizes, ranges)
  }

  /** Cells an IVF probe of `nprobe` reads: f32 L2 to each centroid, square
    * root rounded to float, ties to the lower cell id. */
  def probedCells(centroids: Array[Array[Float]], q: Array[Float], nprobe: Int): Seq[Int] =
    centroids.indices.map(c => (Checkers.l2f32(centroids(c), q), c))
      .sorted.take(nprobe).map(_._2)

  /** Postings held by the BM25 ranges a query's terms route to. */
  def postingsScanned(l: Layout, terms: Seq[String]): Long =
    l.ranges.collect { case (_, lo, hi, n) if terms.exists(t => t >= lo && t <= hi) => n }.sum
}
