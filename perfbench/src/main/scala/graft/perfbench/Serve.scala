package graft.perfbench

import scala.collection.mutable

import graft.functions.HashingEmbedder
import graft.serving.Serving

/** One search request: its kind, the text that is embedded, and the
  * terms BM25 matches. */
final case class Req(kind: String, text: String, terms: Seq[String])

/** The request kinds and how the benchmark issues each through
  * `graft.serving.Serving`. */
final class Searcher(t: Tracer, b: Built, dim: Int) {
  import Searcher._

  def embed(text: String): Array[Float] =
    t.span("functions", "embed")(HashingEmbedder.embed(text, dim))

  def ivf(q: Array[Float], k: Int, nprobe: Int, cache: Serving.IndexCache): Seq[Serving.IvfHit] =
    t.span("serving", "searchIvf")(Serving.searchIvf(b.ivf, q, k, nprobe, cache = cache))

  def hnsw(q: Array[Float], cache: Serving.IndexCache): Seq[Serving.HnswHit] =
    t.span("serving", "searchHnsw")(Serving.searchHnsw(b.hnsw, q, K, Ef, HnswProbe, cache = cache))

  def bm25(terms: Seq[String], k: Int, cache: Serving.IndexCache): Seq[Serving.Bm25Hit] =
    t.span("serving", "searchBm25")(Serving.searchBm25(b.bm25, terms, k, cache = cache))

  def hybrid(q: Array[Float], terms: Seq[String], cache: Serving.IndexCache): Seq[Serving.HybridHit] =
    t.span("serving", "hybridRrf")(Serving.hybridRrf(b.ivf, b.bm25, q, terms, K, FetchK,
      NProbe, KRrf, cache = cache))

  /** Issue `r` as a client would; returns the number of hits. */
  def issue(r: Req, cache: Serving.IndexCache): Int = t.span("bench", s"request:${r.kind}") {
    r.kind match {
      case "ivf" => ivf(embed(r.text), K, NProbe, cache).size
      case "hnsw" => hnsw(embed(r.text), cache).size
      case "bm25" => bm25(r.terms, K, cache).size
      case "hybrid" => hybrid(embed(r.text), r.terms, cache).size
    }
  }
}

object Searcher {
  val Kinds: Seq[String] = Seq("ivf", "hnsw", "bm25", "hybrid")
  val K = 10
  val NProbe = 8
  val HnswProbe = 4
  val Ef = 64
  val FetchK = 50
  val KRrf = 60

  def request(gen: TextGen, kind: String): Req = {
    val terms = gen.query()
    Req(kind, terms.mkString(" "), terms)
  }
}

/** Latency samples per request kind, filled by concurrent clients. */
final class Latencies {
  private val byKind = mutable.HashMap.empty[String, mutable.ArrayBuffer[Double]]
  def add(kind: String, ms: Double): Unit = synchronized {
    byKind.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
  }
  def of(kind: String): Seq[Double] = synchronized(byKind.get(kind).map(_.toVector).getOrElse(Vector.empty))
  def count: Int = synchronized(byKind.values.map(_.size).sum)
  def addAll(o: Latencies): Unit = o.synchronized {
    o.byKind.foreach { case (k, xs) => xs.foreach(add(k, _)) }
  }
}

/** `serve`: a resident search server over a generated corpus. After the
  * set-up no Spark job runs: the time is the embedder, the probe kernels,
  * parquet decoding and the shared cache. */
object Serve {
  import Searcher._

  val Shape: CorpusShape = CorpusShape(docs = 2500, vocab = 20000, zipfS = 1.1,
    sentences = (1, 12), words = (4, 14), dim = 256, cells = 32, bm25Ranges = 8)
  /** Requests per kind in the single-client uncached and solo passes. */
  val UncachedPerKind = 4
  val SoloPerKind = 100
  /** Untimed closed-loop seconds before each kind's timed phase. */
  val SettleSeconds = 0.5
  /** Closed-loop clients: one per core. */
  def clientCount(cpus: Int): Int = cpus.max(1)
  /** Distinct requests of each kind each closed-loop client cycles through. */
  val ClientRequests = 1000
  val CheckQueries = 16

  def run(ctx: Ctx): Unit = {
    val res = ctx.result
    val b = ctx.setups(3) { dir =>
      val corpus = new TextGen(Shape, TextGen.CorpusSeed)
      val docs = (0 until Shape.docs).map(i => (i.toLong, corpus.document()))
      Corpus.build(ctx.spark, Shape, docs, dir, ctx.tracer)
    }
    val layout = Corpus.inspect(ctx.spark, b)
    res.e2e("index_mb") = b.indexBytes / 1048576.0
    val gen = new TextGen(Shape, ctx.seed)
    val s = new Searcher(ctx.tracer, b, Shape.dim)
    val plain = new Searcher(new Tracer(false), b, Shape.dim)
    // every client gets its own seeded request list of each kind
    val clients = Kinds.map { k =>
      k -> (0 until clientCount(ctx.cpus)).map(_ => Vector.fill(ClientRequests)(request(gen, k)))
    }.toMap
    val solo = Kinds.flatMap(k => Vector.fill(SoloPerKind)(request(gen, k)))
    val checks = Vector.fill(CheckQueries)(request(gen, "check"))
    // warm-up probes that touch every cell, shard and posting range
    val everyTerm = layout.ranges.map(_._2)
    val q0 = HashingEmbedder.embed(checks.head.text, Shape.dim)
    ctx.log("set-up done")

    // fill one fresh cache with every index directory; the heap it keeps
    // is the live heap after the fill less the live heap before it
    val heap0 = Jvm.heapAfterGcMb()
    val start = System.nanoTime()
    val cache = Serving.newCache()
    ctx.tracer.span("bench", "warmup") {
      s.ivf(q0, K, Shape.cells, cache)
      Serving.searchHnsw(b.hnsw, q0, K, Ef, Shape.cells, cache = cache)
      s.bm25(everyTerm, K, cache)
    }
    res.layer("serving.warmup_s") = Stats.sec(System.nanoTime() - start)
    res.layer("serving.cache_entries") = cache.size.toDouble
    res.e2e("heap_mb") = Jvm.heapAfterGcMb() - heap0
    val before = ctx.counters.map(_.snapshot(ctx.spark))
    val gc0 = Jvm.gcMs

    // traced run only: one client without a cache
    if (ctx.trace) {
      val uncached = new Latencies
      Kinds.foreach { k =>
        solo.filter(_.kind == k).take(UncachedPerKind).foreach { r =>
          val t0 = System.nanoTime()
          s.issue(r, Serving.newCache())
          uncached.add(k, Stats.ms(System.nanoTime() - t0))
        }
      }
      Kinds.foreach(k => res.layer(s"serving.${k}_uncached_ms") = Stats.median(uncached.of(k)))
      res.attempted.addAndGet(UncachedPerKind * Kinds.size)
    }
    // one client on the warm cache; it also compiles the probe paths
    // before the closed loop starts
    val warm = new Latencies
    solo.foreach { r =>
      val t0 = System.nanoTime()
      (if (ctx.trace) s else plain).issue(r, cache)
      warm.add(r.kind, Stats.ms(System.nanoTime() - t0))
    }
    Kinds.foreach(k => res.layer(s"serving.${k}_solo_ms") = Stats.median(warm.of(k)))
    res.attempted.addAndGet(solo.size)
    ctx.log("warm-up, uncached and solo passes done")

    // the clients in a closed loop on one request kind at a time, each
    // kind for a quarter of the run's seconds after an untimed stretch;
    // the traced run then repeats the phases traced for half as long,
    // for the spans and the overhead
    def phase(kind: String, seconds: Double, traced: Boolean): (Latencies, Double) = {
      val lat = new Latencies
      val t0 = System.nanoTime()
      val until = t0 + (seconds * 1e9).toLong
      val perClient = clients(kind).map(_ => new Latencies)
      val threads = clients(kind).zip(perClient).map { case (reqs, mine) =>
        new Thread(() => {
          var i = 0
          while (System.nanoTime() < until) {
            val r = reqs(i % reqs.size)
            val a = System.nanoTime()
            try {
              (if (traced) s else plain).issue(r, cache)
              mine.add(r.kind, Stats.ms(System.nanoTime() - a))
            } catch { case e: Exception =>
              res.failed.incrementAndGet()
              System.err.println(s"[perfbench] ${r.kind} request failed: $e")
            }
            res.attempted.incrementAndGet()
            i += 1
          }
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      perClient.foreach(lat.addAll)
      (lat, lat.count / Stats.sec(System.nanoTime() - t0))
    }
    def geomean(xs: Seq[Double]): Double = math.exp(xs.map(math.log).sum / xs.size)
    val lat = new Latencies
    val qps = Kinds.map { k =>
      phase(k, SettleSeconds, traced = false)
      val (l, q) = phase(k, ctx.seconds / 4.0, traced = false)
      lat.addAll(l)
      res.layer(s"serving.${k}_qps") = q
      q
    }
    res.e2e("ops_per_s") = geomean(qps)
    if (ctx.trace) {
      val traced = Kinds.map(k => phase(k, ctx.seconds / 8.0, traced = true)._2)
      res.layer("trace.overhead_pct") = (geomean(qps) / geomean(traced) - 1) * 100
    }
    res.layer("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3
    ctx.counters.foreach(c => ctx.reportCounts(c.snapshot(ctx.spark).minus(before.get), 1))
    Kinds.zip(qps).foreach { case (k, q) =>
      val xs = lat.of(k)
      res.e2e(s"${k}_p50_ms") = Stats.median(xs)
      res.layer(s"serving.${k}_p99_ms") = Stats.percentile(xs, 99)
      ctx.log(f"$k%-6s n=${xs.size}%6d ${q}%8.1f/s p50=${Stats.median(xs)}%.3f ms " +
        f"p99=${Stats.percentile(xs, 99)}%.3f ms solo=${Stats.median(warm.of(k))}%.3f ms")
    }

    // per-request work, from the benchmark's own copy of the layouts
    val mix = clients.values.flatten.flatten.toSeq
    val ivfReqs = mix.filter(r => r.kind == "ivf" || r.kind == "hybrid")
    res.layer("serving.ivf_vectors_scored") = ivfReqs.map { r =>
      Corpus.probedCells(b.centroids, HashingEmbedder.embed(r.text, Shape.dim), NProbe)
        .map(c => layout.cellSizes.getOrElse(c, 0L)).sum.toDouble
    }.sum / ivfReqs.size.max(1)
    val bmReqs = mix.filter(r => r.kind == "bm25" || r.kind == "hybrid")
    res.layer("serving.bm25_postings_scanned") =
      bmReqs.map(r => Corpus.postingsScanned(layout, r.terms).toDouble).sum / bmReqs.size.max(1)
    if (ctx.trace) res.layer("functions.embed_us") =
      ctx.spanMedian(ctx.tracer.all, "embed", 1e3)
    ctx.log(f"vectors scored per ivf probe ${res.layer("serving.ivf_vectors_scored")}%.0f, " +
      f"postings per bm25 probe ${res.layer("serving.bm25_postings_scanned")}%.0f")

    check(ctx, layout, s, checks, cache)
    ctx.log("checks done")
  }

  /** Every answer the serving path gives for the check queries, against
    * the benchmark's own computations. */
  def check(ctx: Ctx, b: Layout, s: Searcher, checks: Seq[Req],
            cache: Serving.IndexCache): Unit = {
    val res = ctx.result
    val vecOf = b.ids.indices.map(i => b.ids(i) -> b.vecs(i)).toMap
    val bm = new Checkers.Bm25(b.ids.indices.map(i => b.ids(i) -> Checkers.termCounts(b.texts(i))).toMap)
    var ivfRecall, hnswRecall = 0.0
    checks.zipWithIndex.foreach { case (r, n) =>
      val q = HashingEmbedder.embed(r.text, Shape.dim)
      val exact = Checkers.exactKnn(b.ids, b.vecs, q, K)
      def distsExact(name: String, hits: Seq[(Long, Double)]): Unit = {
        hits.foreach { case (id, d) =>
          res.check(vecOf.get(id).exists(v => Checkers.l2f32(v, q) == d),
            s"$name: id $id distance $d is not the f32 L2 to its stored vector")
        }
        res.check(hits.sliding(2).forall {
          case Seq((i1, d1), (i2, d2)) => d1 < d2 || (d1 == d2 && i1 < i2)
          case _ => true
        }, s"$name: hits not in (dist, id) order: $hits")
      }
      val ivf8 = s.ivf(q, K, NProbe, cache).map(h => (h.vecId, h.dist))
      distsExact("ivf", ivf8)
      val ivfAll = s.ivf(q, K, Shape.cells, cache).map(h => (h.vecId, h.dist))
      res.check(ivfAll == exact, s"ivf nprobe=all $ivfAll != brute force $exact")
      val hn = s.hnsw(q, cache).map(h => (h.vecId, h.dist))
      distsExact("hnsw", hn)
      val exactIds = exact.map(_._1).toSet
      ivfRecall += ivf8.count(h => exactIds(h._1)).toDouble / exact.size
      hnswRecall += hn.count(h => exactIds(h._1)).toDouble / exact.size

      val scores = bm.scores(r.terms)
      val bmHits = s.bm25(r.terms, K, cache)
      Checkers.topKUpToTies(bmHits.map(_.id), scores, K, 1e-6)
        .foreach(e => res.fail(s"bm25 ${r.terms}: $e"))
      bmHits.foreach { h =>
        res.check(math.abs(h.bm25Fp / 1e9 - scores.getOrElse(h.id, Double.NaN)) <= 1e-6,
          s"bm25 ${r.terms}: id ${h.id} score ${h.bm25Fp / 1e9} != ${scores.get(h.id)}")
      }

      val vecList = s.ivf(q, FetchK, NProbe, cache).map(_.vecId)
      val lexList = s.bm25(r.terms, FetchK, cache).map(_.id)
      val fused = Checkers.rrf(Seq(vecList, lexList), KRrf)
      Checkers.topKUpToTies(s.hybrid(q, r.terms, cache).map(_.id), fused, K, 1e-12)
        .foreach(e => res.fail(s"hybrid ${r.terms}: $e"))

      if (n == 0) Kinds.foreach { k =>
        val rr = r.copy(kind = k)
        res.check(answer(s, rr, cache) == answer(s, rr, Serving.newCache()),
          s"$k: cached and uncached answers differ for ${r.terms}")
      }
    }
    ctx.result.layer("serving.ivf_recall10") = ivfRecall / checks.size
    ctx.result.layer("serving.hnsw_recall10") = hnswRecall / checks.size
    System.err.println(f"[perfbench] recall@10 ivf(nprobe $NProbe)=${ivfRecall / checks.size}%.3f " +
      f"hnsw=${hnswRecall / checks.size}%.3f over ${checks.size} queries")
  }

  private def answer(s: Searcher, r: Req, cache: Serving.IndexCache): Seq[Any] = {
    val q = HashingEmbedder.embed(r.text, Shape.dim)
    r.kind match {
      case "ivf" => s.ivf(q, K, NProbe, cache)
      case "hnsw" => s.hnsw(q, cache)
      case "bm25" => s.bm25(r.terms, K, cache)
      case "hybrid" => s.hybrid(q, r.terms, cache)
    }
  }
}
