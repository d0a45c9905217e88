package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What one run reports: operation counts, whether every check passed,
  * and metric values by name (units live in BENCHMARK.json). */
final class Result {
  @volatile var correct = true
  val attempted = new java.util.concurrent.atomic.AtomicLong(0)
  val failed = new java.util.concurrent.atomic.AtomicLong(0)
  val e2e = mutable.LinkedHashMap.empty[String, Double]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  private var reported = 0

  /** Record a failed check; the run then reports correct = false. */
  def fail(msg: String): Unit = synchronized {
    correct = false
    if (reported < 20) System.err.println(s"[perfbench] CHECK FAILED: $msg")
    reported += 1
  }

  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def json: String = {
    def obj(m: collection.Map[String, Double]): String =
      m.map { case (k, v) => s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}""" }
        .mkString("{", ",", "}")
    s"""{"correct":$correct,"attempted":${attempted.get},"failed":${failed.get},""" +
      s""""e2e":${obj(e2e)},"layer":${obj(layer)}}"""
  }
}

/** Everything a workload needs from the harness. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Boolean, val work: String, val cpus: Int,
                val fixture: String) {
  val tracer = new Tracer(trace)
  val result = new Result
  /** Spark listener counters, installed only for the traced run. */
  val counters: Option[SparkCounters] =
    if (trace) Some(SparkCounters.install(spark, tracer)) else None

  /** Run `build` `n` times, each into a fresh directory, and report the
    * median wall time as `setup_s`; returns the last build. */
  def setups[T](n: Int)(build: String => T): T = {
    var last: Option[T] = None
    val times = (1 to n).map { i =>
      val dir = s"$work/setup$i"
      val t0 = System.nanoTime()
      last = Some(tracer.span("bench", "setup")(build(dir)))
      Stats.sec(System.nanoTime() - t0)
    }
    log(f"setups: ${times.map(t => f"$t%.2f").mkString(", ")} s")
    result.e2e("setup_s") = Stats.median(times)
    last.get
  }

  private val born = System.nanoTime()
  def log(msg: String): Unit =
    System.err.println(f"[perfbench] +${Stats.sec(System.nanoTime() - born)}%.1fs $msg")

  /** Median duration of the traced spans named `name`, in `unitNs`. */
  def spanMedian(spans: Vector[Span], name: String, unitNs: Double): Double =
    Stats.median(spans.filter(_.name == name).map(_.durNs / unitNs))

  /** Report the Spark operator/query counters of one window, divided
    * over its `rounds`. */
  def reportCounts(c: Counts, rounds: Int): Unit = {
    val l = result.layer
    l("operators.jobs") = c.jobs.toDouble / rounds
    l("operators.stages") = c.stages.toDouble / rounds
    l("operators.tasks") = c.tasks.toDouble / rounds
    l("operators.task_run_s") = c.taskRunMs / 1e3 / rounds
    l("operators.shuffle_write_mb") = c.shuffleWriteBytes / 1048576.0 / rounds
    l("operators.spill_mb") = c.spillBytes / 1048576.0 / rounds
    l("queries.planning_s") = c.planningMs / 1e3 / rounds
    l("queries.codegen_compile_s") = c.compileNs / 1e9 / rounds
  }

  /** Report self time per layer and write the spans of a traced run. */
  def finishTrace(name: String): Unit = if (trace) {
    val spans = tracer.all
    tracer.selfSeconds(spans).foreach { case (layer, s) => result.layer(s"self.${layer}_s") = s }
    Seq("chunk_embed", "ivf_build", "hnsw_build", "bm25_build").foreach { n =>
      if (spans.exists(_.name == n)) result.layer(s"operators.${n}_s") = spanMedian(spans, n, 1e9)
    }
    counters.foreach(c => result.layer("operators.peak_exec_mem_mb") = c.peakExecMem.get / 1048576.0)
    val out = java.nio.file.Paths.get(work).getParent.resolve(s"traces/$name-$seed.jsonl")
    tracer.write(out, spans)
    System.err.println(s"[perfbench] ${spans.size} spans written to $out")
  }
}

/** Benchmark harness main: one workload, one process, one JSON result.
  * Run through perfbench/run.py, which builds the classpath and checks
  * the result against BENCHMARK.json. */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val cpus = opts.get("cpus").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)
    val work = opts("work")
    Checkers.selfTest()
    val spark = session(cpus, work)
    val ctx = new Ctx(spark, opts("seed").toLong, opts("seconds").toInt,
      opts("trace") == "1", work, cpus, opts.getOrElse("fixture", ""))
    try {
      workload match {
        case "serve" => Serve.run(ctx)
        case "gates" => Gates.run(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      ctx.finishTrace(workload)
      java.nio.file.Files.writeString(java.nio.file.Paths.get(opts("out")), ctx.result.json)
    } finally spark.stop()
  }

  /** The session Bench measures with: local[cpus], cpus shuffle
    * partitions, AQE coalescing by bytes with a cpus/4 floor. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "256m")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionNum",
        (cpus / 4).max(1).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
