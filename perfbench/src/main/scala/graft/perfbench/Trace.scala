package graft.perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `parent` is the span that
  * caused it (0 for a root); spans of one request share their root. */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** In-memory span recorder. With `on = false` every call is a plain
  * invocation, so the untraced run pays nothing but one branch. Spans are
  * written out only when the run ends ([[write]]). */
final class Tracer(val on: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(0)
  private val open = ThreadLocal.withInitial[List[Long]](() => Nil)

  def span[T](layer: String, name: String)(f: => T): T =
    if (!on) f
    else {
      val id = nextId.incrementAndGet()
      val stack = open.get
      open.set(id :: stack)
      val t0 = System.nanoTime()
      try f
      finally {
        val t1 = System.nanoTime()
        open.set(stack)
        spans.add(Span(id, stack.headOption.getOrElse(0L), layer, name, t0, t1))
      }
    }

  /** Add an interval timed elsewhere (a Spark job seen by the listener);
    * its parent is resolved later as the innermost span containing it. */
  def record(layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (on) spans.add(Span(nextId.incrementAndGet(), -1L, layer, name, startNs, endNs))

  def all: Vector[Span] = {
    val (floating, placed) = spans.asScala.toVector.partition(_.parent < 0)
    // candidate parents: spans that can enclose a Spark job (request and
    // probe spans never do), innermost = latest start among containers
    val containers = placed.filter(s => s.layer == "queries" ||
      s.layer == "operators" || s.layer == "bench")
    placed ++ floating.map { j =>
      val p = containers.filter(c => c.startNs <= j.startNs && j.startNs <= c.endNs)
      j.copy(parent = if (p.isEmpty) 0L else p.maxBy(_.startNs).id)
    }
  }

  /** Self time per layer, seconds: each span's duration minus the part of
    * its interval that its child spans cover. */
  def selfSeconds(spans: Vector[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.iterator.map { s =>
        val cs = kids.getOrElse(s.id, Vector.empty)
          .map(c => (c.startNs.max(s.startNs), c.endNs.min(s.endNs)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = Long.MinValue; var curB = Long.MinValue
        cs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = curB.max(b)
        }
        if (curB > curA) covered += curB - curA
        (s.durNs - covered) / 1e9
      }.sum
    }
  }

  def write(path: java.nio.file.Path, spans: Vector[Span]): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"layer":"${s.layer}",""" +
        s""""name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    }
    finally w.close()
  }
}

/** Spark listener counters for the operator and query layers. Events
  * arrive on the listener bus, so readers call [[drain]] first. */
final class SparkCounters(tracer: Tracer) extends SparkListener
    with QueryExecutionListener {
  val jobs, stages, tasks, taskRunMs, shuffleWriteBytes, spillBytes,
      planningMs = new AtomicLong(0)
  val peakExecMem = new AtomicLong(0)
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
  // listener times are wall-clock millis; spans are nanoTime
  private val nanoMinusWall = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStart.put(e.jobId, e.time)
  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    Option(jobStart.remove(e.jobId)).foreach { t0 =>
      tracer.record("operators", s"job-${e.jobId}",
        t0 * 1000000L + nanoMinusWall, e.time * 1000000L + nanoMinusWall)
    }
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.addAndGet(m.executorRunTime)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
      peakExecMem.accumulateAndGet(m.peakExecutionMemory, (a, b) => a.max(b))
    }
  }

  private val planningPhases = Set("analysis", "optimization", "planning")
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    addPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    addPlanning(qe)
  private def addPlanning(qe: QueryExecution): Unit =
    planningMs.addAndGet(qe.tracker.phases.collect {
      case (p, s) if planningPhases(p) => s.durationMs
    }.sum)

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Stop counting until [[attach]]: the traced run's untraced reference
    * window runs without the listener. */
  def detach(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot(spark: SparkSession): Counts = {
    drain(spark)
    Counts(jobs.get, stages.get, tasks.get, taskRunMs.get, shuffleWriteBytes.get,
      spillBytes.get, planningMs.get,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)
  }
}

object SparkCounters {
  def install(spark: SparkSession, tracer: Tracer): SparkCounters = {
    val c = new SparkCounters(tracer)
    c.attach(spark)
    c
  }
}

/** Cumulative counter values at one instant; [[minus]] gives a window. */
final case class Counts(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
                        shuffleWriteBytes: Long, spillBytes: Long,
                        planningMs: Long, compileNs: Long) {
  def minus(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskRunMs - o.taskRunMs,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes,
    planningMs - o.planningMs, compileNs - o.compileNs)
}

object Jvm {
  def gcMs: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** Heap in use after full collections, MB: the least of a few
    * collections, so objects whose release was still in flight (an
    * asynchronous unpersist, a listener event) do not count. */
  def heapAfterGcMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** Bytes of every regular file under `dir`. */
  def treeBytes(dir: java.io.File): Long =
    if (dir.isFile) dir.length
    else Option(dir.listFiles()).toSeq.flatten.map(treeBytes).sum
}
