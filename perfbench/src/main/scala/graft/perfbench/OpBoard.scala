package graft.perfbench

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.queries.{DedupQueries, FrameCache}

/** `op_board`: a closed loop of passes over the operator board. Each
  * pass clears the shared frame caches, then forces every board query
  * through the noop sink in a seed-permuted order — no prewarm, so each
  * shared frame is paid by the first query that touches it. Every query's
  * row count is checked against its DuckDB oracle count.
  *
  * The board (names and oracle counts) is `fixtures/board_sf0.01.json`:
  * the 40 metric-line queries of the repository's query bench, with the
  * oracle row counts of the committed sf0.01 correctness run.
  */
object OpBoard {
  /** Passes before timing: the first pays JIT and code generation, the
    * next ones the planner's JIT curve. Pass times keep falling for about
    * ten passes (5.2 s, 4.7 s, 4.2 s, ... 3.2 s on 4 vCPUs); with three
    * warm-up passes the window sat on that slope and whole runs spread
    * 0.25 (IQR / median) over five seeds. */
  val WarmPasses = 8

  final case class Step(name: String, buildS: Double, execS: Double)

  /** The per-layer metrics of the query registry and its memo. */
  val LayerUnits: Seq[(String, String)] = Seq(
    "queries.build_s" -> "s", "queries.exec_s" -> "s",
    "queries.frames_build_s" -> "s", "queries.frames_built" -> "count")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sfDir = ctx.sf("sf0.01")
    val board = loadBoard(ctx.sf("board_sf0.01.json"))
    val registry = SparkEntry.queries
    val order = permute(board.map(_._1), ctx.seed)
    val oracle = board.toMap
    val notes = Seq.newBuilder[String]
    var attempted, failed = 0L

    /** One pass; None when any query failed (the pass is not a timing). */
    def pass(steps: Option[scala.collection.mutable.Buffer[Step]]): Boolean = {
      DedupQueries.clearSharedCaches()
      val p0 = System.nanoTime()
      var ok = true
      order.foreach { name =>
        attempted += 1
        try {
          val b0 = System.nanoTime()
          val df = ctx.tracer.span("queries.build")(registry(name)(spark, sfDir))
          val e0 = System.nanoTime()
          val rows = ctx.tracer.span("queries.exec")(CdcBatch.forceCount(df))
          val e1 = System.nanoTime()
          steps.foreach(_ += Step(name, (e0 - b0) / 1e9, (e1 - e0) / 1e9))
          if (rows != oracle(name)) {
            failed += 1; ok = false
            notes += s"$name: $rows rows, oracle ${oracle(name)}"
          }
        } catch { case e: Throwable =>
          failed += 1; ok = false
          notes += s"$name threw ${e.getClass.getName}: ${e.getMessage}"
        }
      }
      Main.log(f"pass ${(System.nanoTime() - p0) / 1e9}%.2f s")
      ok
    }

    (1 to WarmPasses).foreach { _ => pass(None); Main.log("warm-up pass done") }
    val setupS = Main.sinceJvmStart()
    val plain = Loop.closed(ctx.seconds)(() => pass(None))
    val metrics =
      if (!ctx.trace) Seq(Metric("setup_s", setupS, "s"), settledHeap(spark)) ++
        (if (plain.isEmpty) Nil else Seq(Metric("pass_s", Stats.median(plain), "s")))
      else {
        val engine = EngineCounters.attach(spark)
        engine.barrier(spark)
        val before = engine.snapshot()
        val t0 = System.nanoTime()
        val perPass = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
        val traced = Loop.closed(ctx.seconds) { () =>
          val steps = scala.collection.mutable.ArrayBuffer.empty[Step]
          val ok = ctx.tracer.span("op_board.pass")(pass(Some(steps)))
          val frames = FrameCache.buildSeconds
          if (ok) perPass += Seq(steps.map(_.buildS).sum, steps.map(_.execS).sum,
            frames.map(_._2).sum, frames.size.toDouble, steps.map(s => s.buildS + s.execS).sum)
          ok
        }
        val wall = (System.nanoTime() - t0) / 1e9
        engine.barrier(spark)
        val eng = engine.snapshot() - before
        EngineCounters.detach(spark, engine)
        def med(k: Int): Double = Stats.median(perPass.map(_(k)).toSeq)
        Seq(
          Metric("queries.build_s", med(0), "s"),
          Metric("queries.exec_s", med(1), "s"),
          Metric("queries.frames_build_s", med(2), "s"),
          Metric("queries.frames_built", med(3), "count"),
          // Traced query times against the untraced pass that pass_s
          // times: the share of its wall time the per-query spans cover.
          Metric("trace.reconcile_pct",
            if (plain.isEmpty) Double.NaN else 100 * med(4) / Stats.median(plain), "%"),
          Metric("trace.overhead_pct", Loop.overheadPct(plain, traced), "%")) ++
          eng.metrics(wall, ctx.cores, perPass.size)
      }
    DedupQueries.clearSharedCaches()
    Outcome(attempted, failed, metrics, notes.result())
  }

  /** `heap_mb` after the last measured pass, with that pass's shared
    * frames still cached. Blocks are released asynchronously, and
    * broadcasts only after a GC lets the context cleaner see them, so
    * right after a pass the live heap depends on how far both got: wait
    * until the persisted set stops changing, collect, let the cleaner
    * run, then measure. */
  private def settledHeap(spark: org.apache.spark.sql.SparkSession): Metric = {
    def persisted = spark.sparkContext.getPersistentRDDs.size
    var last = -1
    val deadline = System.nanoTime() + 3L * 1000000000L
    while (persisted != last && System.nanoTime() < deadline) {
      last = persisted
      Thread.sleep(200)
    }
    System.gc()
    Thread.sleep(1000)
    Main.liveHeap()
  }

  /** Board entries (query, oracle rows) in file order. */
  def loadBoard(path: String): Seq[(String, Long)] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path))
    node.fields().asScala.map(e => e.getKey -> e.getValue.asLong()).toSeq
  }

  /** Seeded Fisher-Yates shuffle. */
  def permute[T](xs: Seq[T], seed: Long): Seq[T] = {
    val a = xs.toArray[Any]
    var s = Generator.splitmix(seed ^ 0x0B0A4DL)
    var k = a.length - 1
    while (k > 0) {
      s = Generator.splitmix(s)
      val j = java.lang.Long.remainderUnsigned(s, (k + 1).toLong).toInt
      val t = a(k); a(k) = a(j); a(j) = t
      k -= 1
    }
    a.toSeq.map(_.asInstanceOf[T])
  }
}
