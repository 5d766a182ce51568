package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import org.apache.spark.sql.SparkSession

final case class Metric(name: String, value: Double, unit: String)

/** One workload's outcome. `attempted`/`failed` count operations; a
  * failed operation never becomes a timing. `notes` explain the run
  * (check failures, skipped percentiles) and go to stderr and the
  * detail record, never to the result line. */
final case class Outcome(attempted: Long, failed: Long, metrics: Seq[Metric],
    notes: Seq[String] = Nil) {
  def ++(o: Outcome): Outcome = Outcome(attempted + o.attempted, failed + o.failed,
    metrics ++ o.metrics, notes ++ o.notes)
}

/** What every workload gets: the session, its arguments, a scratch
  * directory inside the checkout and the tracer. */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
    trace: Boolean, fixtures: String, work: File, tracer: Tracer, cores: Int) {
  def sf(name: String): String = new File(fixtures, name).getPath
  def dir(name: String): String = {
    val d = new File(work, name)
    d.mkdirs()
    d.getPath
  }
}

/** Benchmark entry point:
  * `Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *       --fixtures <dir> --work <dir>`.
  * Prints one JSON result object as the last line of stdout. */
object Main {
  val Cores = 4

  val Workloads: Map[String, Ctx => Outcome] = Map(
    "cdc_batch" -> CdcBatch.run,
    "cdc_stream" -> CdcStream.run,
    "op_board" -> OpBoard.run)

  /** A traced run prints every per-layer metric of the benchmark. These
    * are the ones of the phases a traced workload does not run: it calls
    * nothing in those layers, so they read 0 (no work, no time). */
  val NotRun: Map[String, Seq[(String, String)]] = Map(
    "cdc_batch" -> OpBoard.LayerUnits,
    "op_board" -> (CdcBatch.LayerUnits ++ CdcBatch.StreamLayerUnits))

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String): String =
      opts.getOrElse(k, { System.err.println(s"perfbench: missing --$k"); sys.exit(2) })
    val workload = need("workload")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"perfbench: unknown workload $workload; " +
        s"known: ${Workloads.keys.toSeq.sorted.mkString(", ")}")
      sys.exit(2)
    })
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val trace = need("trace") == "1"
    val fixtures = need("fixtures")
    val work = new File(need("work"))
    if (!new File(fixtures).isDirectory) {
      System.err.println(s"perfbench: fixture dir $fixtures not found")
      sys.exit(2)
    }
    work.mkdirs()

    val spark = session(work)
    log(s"session up; workload $workload seed $seed trace $trace")
    val runId = s"$workload-s$seed-t${if (trace) 1 else 0}-${System.currentTimeMillis()}"
    val tracer = new Tracer(runId, trace)
    val ctx = Ctx(spark, seed, seconds, trace, fixtures, work, tracer, Cores)
    val outcome =
      try body(ctx)
      catch { case e: Throwable =>
        // The workload could not run at all: one failed operation, no
        // timings.
        e.printStackTrace()
        Outcome(1, 1, Nil, Seq(s"workload aborted: ${e.getClass.getName}: ${e.getMessage}"))
      }
    if (trace) tracer.write(new File(work, "spans.json"))
    spark.stop()
    outcome.notes.foreach(n => System.err.println(s"perfbench: $n"))
    val idle =
      if (trace) NotRun.getOrElse(workload, Nil).map { case (k, unit) => Metric(k, 0.0, unit) }
      else Nil
    val metrics = (outcome.metrics ++ idle).sortBy(_.name)
    println(Json.obj(Seq(
      "correct" -> (outcome.failed == 0).toString,
      "attempted" -> outcome.attempted.toString,
      "failed" -> outcome.failed.toString,
      "metrics" -> Json.obj(metrics.map(m =>
        m.name -> Json.obj(Seq("value" -> Json.num(m.value), "unit" -> Json.str(m.unit))))))))
    System.out.flush()
    // Spark leaves non-daemon threads behind; the result is out.
    sys.exit(0)
  }

  def session(work: File): SparkSession = {
    val local = new File(work, "spark-local"); local.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // The status store keeps every job, stage and SQL execution up to
      // these caps; low caps keep the live heap independent of how many
      // operations a run fitted into its window.
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.local.dir", local.getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** `heap_mb`: live heap after a full collection. Workloads take it at
    * the end of their measured window, while their working set is live. */
  def liveHeap(): Metric = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach(_ => mem.gc())
    Metric("heap_mb", mem.getHeapMemoryUsage.getUsed / 1e6, "MB")
  }

  /** Progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench ${sinceJvmStart()}%7.2f] $msg")

  /** Seconds since this JVM started. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
}
