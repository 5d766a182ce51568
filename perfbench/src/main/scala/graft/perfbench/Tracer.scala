package graft.perfbench

import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval; `parent` is 0 for a root span. */
final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
  def sec: Double = (endNs - startNs) / 1e9
}

/** Spans recorded from outside the program, around the calls into each
  * layer. Kept in memory, written once at the end of the run with each
  * span's self time (its duration minus what its children cover). A
  * disabled tracer runs the bodies and records nothing. */
final class Tracer(val runId: String, val enabled: Boolean) {

  private val ids = new AtomicInteger(0)
  private val done = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get()
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(parents)
        done.synchronized { done += Span(id, parents.headOption.getOrElse(0), name, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  /** Per span: its duration minus the part of it its children cover. */
  def selfSec: Map[Int, Double] = {
    val all = spans
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val covered = kids.getOrElse(s.id, Nil).map(k => (k.startNs, k.endNs)).sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, reach), (a, b)) =>
          val from = math.max(a, reach)
          if (b > from) (sum + (b - from), b) else (sum, reach)
        }._1
      s.id -> (s.endNs - s.startNs - covered) / 1e9
    }.toMap
  }

  def write(file: java.io.File): Unit = {
    val self = selfSec
    val byName = spans.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> Json.obj(Seq("count" -> ss.size.toString,
        "total_s" -> Json.num(ss.map(_.sec).sum),
        "self_s" -> Json.num(ss.map(s => self(s.id)).sum)))
    }
    val body = Json.obj(Seq(
      "run_id" -> Json.str(runId),
      "by_name" -> Json.obj(byName),
      "spans" -> Json.arr(spans.sortBy(_.startNs).map(s => Json.obj(Seq(
        "id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> Json.str(s.name), "start_ns" -> s.startNs.toString,
        "end_ns" -> s.endNs.toString, "self_s" -> Json.num(self(s.id))))))))
    file.getParentFile.mkdirs()
    java.nio.file.Files.write(file.toPath, body.getBytes("UTF-8"))
  }
}

/** Engine-side counters from the benchmark's own listeners: task-end
  * metrics (run time, CPU, GC, shuffle), job and stage counts, and the
  * query-planning phases of every batch query the session runs. Jobs in
  * the marker group are the benchmark's own barriers and are skipped. */
final class EngineCounters extends SparkListener with QueryExecutionListener {
  import EngineCounters._
  val jobs, stages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs, shuffleReadB, shuffleWriteB = new AtomicLong
  val analysisMs, optimizationMs, planningMs = new AtomicLong
  private val markerStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  private val markersSeen = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val marker = Option(e.properties)
      .exists(p => p.getProperty("spark.jobGroup.id") == MarkerGroup)
    if (marker) e.stageIds.foreach(markerStages.add) else jobs.incrementAndGet()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (!markerStages.contains(e.stageInfo.stageId)) stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (markerStages.contains(e.stageId)) markersSeen.incrementAndGet()
    else if (e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleReadB.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    analysisMs.addAndGet(ms("analysis"))
    optimizationMs.addAndGet(ms("optimization"))
    planningMs.addAndGet(ms("planning"))
  }
  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Run one tiny job in the marker group and wait until this listener
    * has seen its task end: every event posted before it has then been
    * delivered, so the counters are complete up to this point. */
  def barrier(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val before = markersSeen.get()
    sc.setJobGroup(MarkerGroup, "perfbench barrier")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 10L * 1000000000L
    while (markersSeen.get() == before && System.nanoTime() < deadline) Thread.sleep(5)
    // The query-execution listener runs on its own queue; give it the
    // same chance to drain.
    Thread.sleep(50)
  }

  def snapshot(): Snap = Snap(jobs.get, stages.get, tasks.get, taskRunMs.get,
    taskCpuNs.get, gcMs.get, shuffleReadB.get, shuffleWriteB.get,
    analysisMs.get, optimizationMs.get, planningMs.get)
}

object EngineCounters {
  val MarkerGroup = "perfbench-marker"

  final case class Snap(jobs: Long, stages: Long, tasks: Long, taskRunMs: Long,
      taskCpuNs: Long, gcMs: Long, shuffleReadB: Long, shuffleWriteB: Long,
      analysisMs: Long, optimizationMs: Long, planningMs: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskRunMs - o.taskRunMs, taskCpuNs - o.taskCpuNs, gcMs - o.gcMs,
      shuffleReadB - o.shuffleReadB, shuffleWriteB - o.shuffleWriteB,
      analysisMs - o.analysisMs, optimizationMs - o.optimizationMs,
      planningMs - o.planningMs)

    /** The `engine.*` metrics of a window of `wallSec` on `cores` cores
      * that held `ops` operations, per operation. */
    def metrics(wallSec: Double, cores: Int, ops: Int = 1): Seq[Metric] = Seq(
      Metric("engine.analysis_s", analysisMs / 1e3, "s"),
      Metric("engine.optimization_s", optimizationMs / 1e3, "s"),
      Metric("engine.planning_s", planningMs / 1e3, "s"),
      Metric("engine.jobs", jobs.toDouble, "count"),
      Metric("engine.stages", stages.toDouble, "count"),
      Metric("engine.tasks", tasks.toDouble, "count"),
      Metric("engine.task_s", taskRunMs / 1e3, "s"),
      Metric("engine.task_cpu_s", taskCpuNs / 1e9, "s"),
      Metric("engine.gc_s", gcMs / 1e3, "s"),
      Metric("engine.shuffle_read_mb", shuffleReadB / 1e6, "MB"),
      Metric("engine.shuffle_write_mb", shuffleWriteB / 1e6, "MB"),
      Metric("engine.idle_core_s", math.max(0.0, cores * wallSec - taskRunMs / 1e3), "s"))
      .map(m => if (ops <= 1) m else m.copy(value = m.value / ops))
  }

  /** The `engine.*` metrics, with their units. */
  val Units: Seq[(String, String)] =
    Snap(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).metrics(0.0, 0).map(m => m.name -> m.unit)

  def attach(spark: SparkSession): EngineCounters = {
    val c = new EngineCounters
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def detach(spark: SparkSession, c: EngineCounters): Unit = {
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}
