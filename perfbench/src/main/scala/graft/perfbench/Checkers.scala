package graft.perfbench

import scala.collection.mutable

/** Reference computations the benchmark checks the program's answers
  * against. They share no code with the program: each is written from
  * its textbook definition over data the benchmark itself generated. */
object Checkers {

  /** f32 Euclidean distance: squared differences accumulated in float in
    * dimension order, square root taken in double and rounded to float. */
  def l2f32(a: Array[Float], b: Array[Float]): Double = {
    require(a.length == b.length, s"dims ${a.length} != ${b.length}")
    var acc = 0.0f
    var i = 0
    while (i < a.length) { val d = a(i) - b(i); acc += d * d; i += 1 }
    math.sqrt(acc.toDouble).toFloat.toDouble
  }

  /** Exact k nearest neighbours by brute force, in (distance, id) order. */
  def exactKnn(ids: Array[Long], vecs: Array[Array[Float]], q: Array[Float],
               k: Int): Vector[(Long, Double)] =
    ids.indices.iterator.map(i => (ids(i), l2f32(vecs(i), q))).toVector
      .sortBy { case (id, d) => (d, id) }.take(k)

  /** The benchmark's tokenizer: lowercase runs of [a-z0-9]. */
  def tokens(text: String): Array[String] =
    text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)

  def termCounts(text: String): Map[String, Int] =
    tokens(text).groupBy(identity).map { case (t, ts) => t -> ts.length }

  /** Okapi BM25 over a document set given as per-document term counts:
    * idf = ln(1 + (N - df + 0.5) / (df + 0.5)), k1 = 1.2, b = 0.75. */
  final class Bm25(docs: collection.Map[Long, Map[String, Int]],
                   k1: Double = 1.2, b: Double = 0.75) {
    private val n = docs.size.toDouble
    private val dl = docs.map { case (id, tc) => id -> tc.values.sum.toDouble }
    private val avgdl = dl.values.sum / n
    private val postings: Map[String, Vector[(Long, Int)]] = {
      val m = mutable.HashMap.empty[String, mutable.ArrayBuffer[(Long, Int)]]
      docs.foreach { case (id, tc) =>
        tc.foreach { case (t, c) => m.getOrElseUpdate(t, mutable.ArrayBuffer.empty) += ((id, c)) }
      }
      m.map { case (t, ps) => t -> ps.toVector }.toMap
    }

    /** Score of every document that holds at least one query term. */
    def scores(queryTerms: Seq[String]): Map[Long, Double] = {
      val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
      queryTerms.distinct.foreach { t =>
        val ps = postings.getOrElse(t, Vector.empty)
        val df = ps.length.toDouble
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        ps.foreach { case (id, tf) =>
          acc(id) += idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl(id) / avgdl))
        }
      }
      acc.toMap
    }
  }

  /** Reciprocal rank fusion: sum over lists of 1 / (kRrf + rank), rank
    * counted from 1. */
  def rrf(lists: Seq[Seq[Long]], kRrf: Int): Map[Long, Double] = {
    val acc = mutable.HashMap.empty[Long, Double].withDefaultValue(0.0)
    lists.foreach(_.zipWithIndex.foreach { case (id, i) => acc(id) += 1.0 / (kRrf + i + 1) })
    acc.toMap
  }

  /** Does `got` list the top `k` of `scores` (higher is better), allowing
    * any order among candidates whose scores differ by at most `eps`?
    * Returns the first violation found. */
  def topKUpToTies(got: Seq[Long], scores: Map[Long, Double], k: Int,
                   eps: Double): Option[String] = {
    val want = math.min(k, scores.size)
    if (got.length != want) return Some(s"returned ${got.length} hits, expected $want")
    if (got.distinct.length != got.length) return Some(s"duplicate ids in $got")
    got.find(id => !scores.contains(id)).foreach(id => return Some(s"id $id has no score"))
    got.sliding(2).foreach {
      case Seq(a, b) if scores(a) < scores(b) - eps =>
        return Some(s"id $a (${scores(a)}) ranked above $b (${scores(b)})")
      case _ =>
    }
    if (got.nonEmpty) {
      val floor = scores(got.last)
      val gotSet = got.toSet
      scores.find { case (id, s) => !gotSet(id) && s > floor + eps }.foreach {
        case (id, s) => return Some(s"id $id (score $s) missing; k-th score is $floor")
      }
    }
    None
  }

  /** Hand-computed cases for every checker; throws on the first miss. */
  def selfTest(): Unit = {
    def check(ok: Boolean, what: String): Unit =
      if (!ok) throw new IllegalStateException(s"checker self-test failed: $what")
    def near(a: Double, b: Double): Boolean = math.abs(a - b) <= 1e-9

    check(l2f32(Array(0f, 0f), Array(3f, 4f)) == 5.0, "l2 (0,0)-(3,4) = 5")
    check(l2f32(Array(1f, 2f, 2f), Array(0f, 0f, 0f)) == 3.0, "l2 |(1,2,2)| = 3")
    // 1-d points 0,1,2,3 at ids 10..13, query 1.5: two ties at 0.5 and
    // two at 1.5, each broken by the lower id
    val knn = exactKnn(Array(10L, 11L, 12L, 13L),
      Array(Array(0f), Array(1f), Array(2f), Array(3f)), Array(1.5f), 3)
    check(knn == Vector((11L, 0.5), (12L, 0.5), (10L, 1.5)), s"knn order $knn")

    // d1 = "a b", d2 = "a a c": N = 2, avgdl = 2.5
    //   "c": idf = ln 2, d2: ln 2 * 2.2 / (1 + 1.2 * (0.25 + 0.75 * 3 / 2.5))
    //   "a": idf = ln 1.2, d1 tf 1 dl 2, d2 tf 2 dl 3
    val bm = new Bm25(Map(1L -> termCounts("a b"), 2L -> termCounts("A, a c")))
    val sc = bm.scores(Seq("c"))
    check(sc.keySet == Set(2L) && near(sc(2L), 0.64072428455121), s"bm25 c $sc")
    val sa = bm.scores(Seq("a", "a"))
    check(near(sa(1L), 0.19856803215183175) && near(sa(2L), 0.2373416715660948),
      s"bm25 a $sa")
    check(topKUpToTies(Seq(2L, 1L), sa, 2, 1e-9).isEmpty, "bm25 top-2 accepted")
    check(topKUpToTies(Seq(1L, 2L), sa, 2, 1e-9).nonEmpty, "bm25 wrong order refused")
    check(topKUpToTies(Seq(1L), sa, 1, 1e-9).nonEmpty, "bm25 wrong top-1 refused")

    // lists [1,2,3] and [3,1], kRrf 60:
    //   1 -> 1/61 + 1/62, 3 -> 1/63 + 1/61, 2 -> 1/62
    val f = rrf(Seq(Seq(1L, 2L, 3L), Seq(3L, 1L)), 60)
    check(near(f(1L), 1.0 / 61 + 1.0 / 62) && near(f(3L), 1.0 / 63 + 1.0 / 61) &&
      near(f(2L), 1.0 / 62), s"rrf $f")
    check(topKUpToTies(Seq(1L, 3L, 2L), f, 3, 1e-12).isEmpty, "rrf order accepted")
    check(topKUpToTies(Seq(3L, 1L, 2L), f, 3, 1e-12).nonEmpty, "rrf swap refused")
    // ties: both orders of two equal scores pass
    val tie = Map(5L -> 1.0, 6L -> 1.0, 7L -> 0.5)
    check(topKUpToTies(Seq(6L, 5L), tie, 2, 1e-12).isEmpty &&
      topKUpToTies(Seq(5L, 6L), tie, 2, 1e-12).isEmpty, "ties either order")
  }
}
