package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Tables
import graft.queries._

/** `gates`: a window of gate queries from every registry, run in turn by
  * one caller over a generated fixture, timed as Bench times them. Spark
  * planning, the driver and the operators do all of the work; the
  * serving path does none. Before the window each gate runs once with
  * its handoff artifacts and writes its result, which run.py compares
  * with the gate's DuckDB oracle. */
object Gates {
  type Gate = (SparkSession, String) => DataFrame

  val Registries: Seq[(String, Map[String, Gate])] = Seq(
    "vector" -> VectorQueries.queries, "catalog" -> CatalogQueries.queries,
    "text" -> TextQueries.queries, "dedup" -> DedupQueries.queries,
    "ann" -> AnnQueries.queries, "multimodal" -> MultimodalQueries.queries,
    "event" -> EventQueries.queries, "relational" -> RelationalQueries.queries,
    "pipeline" -> PipelineQueries.queries, "curation" -> CurationQueries.queries,
    "hybrid" -> HybridQueries.queries, "model" -> ModelQueries.queries,
    "web" -> WebQueries.queries)

  /** One gate per registry, two from `ann` and `hybrid`: those four are
    * the Spark form of each serving request kind. A whole registry pass
    * does not fit one run: the 200 gates take minutes even at the
    * smallest fixture. Most gates here run in under a second, where
    * per-job fixed cost dominates, as it does for two thirds of the
    * registry. */
  val Selected: Seq[(String, String)] = Seq(
    "vector" -> "a2_knn_score", "catalog" -> "d1_delete_cascade",
    "text" -> "t_quality_score", "dedup" -> "dedup_exact_groups",
    "ann" -> "ann_ivf", "ann" -> "ann_hnsw", "multimodal" -> "mm_resize_meta",
    "event" -> "ev_top_users", "relational" -> "rel_latest_by_key",
    "pipeline" -> "e2e_reference_pipeline", "curation" -> "shard_assign",
    "hybrid" -> "bm25_indexed", "hybrid" -> "hybrid_rrf",
    "model" -> "t_gopher_rules", "web" -> "link_extract")

  /** The gate that answers each serving request kind with Spark jobs. */
  val KindGate: Map[String, String] = Map("ivf" -> "ann_ivf", "hnsw" -> "ann_hnsw",
    "bm25" -> "bm25_indexed", "hybrid" -> "hybrid_rrf")

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val fx = ctx.fixture
    val res = ctx.result
    val byReg = Registries.toMap
    val gates = Selected.map { case (reg, name) =>
      (reg, name, byReg(reg).getOrElse(name,
        throw new IllegalStateException(s"gate $name is not in the $reg registry")))
    }

    // the session warm-up Bench does before its prebuilds
    Tables.documents(spark, fx).limit(1).count()
    Tables.embeddings(spark, fx).limit(1).count()
    spark.range(1000000).selectExpr("sum(id)").count()

    // the persisted-index and model prebuilds Bench performs for these
    // gates, each set-up under its own artifact root
    val artifacts = ctx.setups(3) { dir =>
      new java.io.File(dir).mkdirs()
      sys.props("java.io.tmpdir") = dir
      ctx.tracer.span("operators", "ivf_build")(AnnQueries.persistedIvf(spark, fx))
      ctx.tracer.span("operators", "hnsw_build")(AnnQueries.persistedHnsw(spark, fx))
      ctx.tracer.span("operators", "bm25_build")(HybridQueries.persistedBm25(spark, fx))
      dir
    }
    res.e2e("index_mb") = Jvm.treeBytes(new java.io.File(artifacts)) / 1048576.0

    // correctness pass, untimed: results and oracle SQL for the
    // repository's DuckDB compare, which run.py calls (handoff artifacts
    // are written outside bench mode)
    val out = s"${ctx.work}/gates-out"
    gates.foreach { case (_, name, fn) =>
      fn(spark, fx).coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      graft.operators.Dedup.releasePending()
    }
    graft.Verify.writeOracleJson(out)

    sys.props("graft.bench.mode") = "true"
    /** Whole rounds of every gate until `seconds` have passed; returns
      * (registry, gate, wall seconds) per completed gate and the rounds. */
    def window(seconds: Double, tracer: Tracer): (Seq[(String, String, Double)], Int) = {
      val walls = scala.collection.mutable.ArrayBuffer.empty[(String, String, Double)]
      val deadline = System.nanoTime() + (seconds * 1e9).toLong
      var rounds = 0
      do {
        gates.foreach { case (reg, name, fn) =>
          res.attempted.incrementAndGet()
          val t0 = System.nanoTime()
          try {
            tracer.span("queries", name) {
              fn(spark, fx).write.format("noop").mode("overwrite").save()
            }
            walls += ((reg, name, Stats.sec(System.nanoTime() - t0)))
          } catch { case e: Exception =>
            res.failed.incrementAndGet()
            System.err.println(s"[perfbench] gate $name failed: $e")
          } finally graft.operators.Dedup.releasePending()
        }
        rounds += 1
      } while (System.nanoTime() < deadline)
      (walls.toSeq, rounds)
    }
    def rate(w: (Seq[(String, String, Double)], Int)): Double = w._1.size / w._1.map(_._3).sum

    val before = ctx.counters.map(_.snapshot(spark))
    val gc0 = Jvm.gcMs
    val start = System.nanoTime()
    val (walls, rounds) = window(ctx.seconds, ctx.tracer)
    val elapsed = Stats.sec(System.nanoTime() - start)
    res.layer("jvm.gc_s") = (Jvm.gcMs - gc0) / 1e3 / rounds
    ctx.counters.foreach(c => ctx.reportCounts(c.snapshot(spark).minus(before.get), rounds))
    res.e2e("heap_mb") = Jvm.heapAfterGcMb()
    // traced run only: the window again, untraced and without the
    // listener, for half as long, as the reference for the tracing
    // overhead (after the traced window, so the counters above see the
    // same first-time work, such as codegen, as the untraced run)
    ctx.counters.foreach { c =>
      c.detach(spark)
      val untraced = try rate(window(ctx.seconds / 2.0, new Tracer(false))) finally c.attach(spark)
      res.layer("trace.overhead_pct") = (untraced / rate((walls, rounds)) - 1) * 100
    }
    res.e2e("ops_per_s") = walls.size / elapsed
    KindGate.foreach { case (kind, g) =>
      res.e2e(s"${kind}_p50_ms") = Stats.median(walls.collect { case (_, `g`, s) => s * 1e3 })
    }
    Registries.foreach { case (reg, _) =>
      res.layer(s"queries.${reg}_s") = walls.collect { case (`reg`, _, s) => s }.sum / rounds
    }
    if (ctx.trace) {
      val spans = ctx.tracer.all
      res.layer("queries.driver_gap_s") = ctx.tracer.selfSeconds(spans.filter(s =>
        s.layer == "queries" || spans.exists(p => p.id == s.parent && p.layer == "queries")))
        .getOrElse("queries", 0.0) / rounds
    }
    System.err.println(f"[perfbench] gates: $rounds rounds, ${walls.size} gates in $elapsed%.1f s; " +
      walls.groupBy(_._2).map { case (n, ws) => s"$n=" + ws.map(w => f"${w._3}%.2f").mkString("/") }
        .mkString(" "))
  }
}
