package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.streaming.StreamingQueryListener._

import graft.queries.CdcMapping
import graft.streaming.StreamingPipeline
import graft.streaming.StreamingPipeline.{InMemoryKvSink, KvSink}

/** `cdc_stream`: an open loop at a fixed event rate into the three sink
  * queries of the streaming pipeline, running at once with
  * `Trigger.ProcessingTime(0)`:
  *
  *   - `kv`:  parse → enrich → `kvViewsWriter` (A1-A3 upserts per batch);
  *   - `win`: parse → enrich → `minuteWindowsStream` (watermarked state);
  *   - `wh`:  parse → enrich → `warehouseWriter` (hour-partitioned parquet).
  *
  * One load thread ticks every [[TickMs]] and hands every event that has
  * fallen due to each query's own `MemoryStream` (three queries sharing
  * one memory source break its offset bookkeeping). Each event is timed
  * from its DUE time — not from when it was handed over — to the end of
  * the first micro-batch whose source range covers it, as reported by
  * that query's progress event. A generator that falls behind therefore
  * shows as latency, and its lag is reported too.
  *
  * Warm-up (the first, slow micro-batches) runs until every query's
  * latest batch is fast, and is billed to `setup_s`. After the measured
  * window the load continues until every measured event is committed;
  * then the load stops and the queries drain, so the sink contents can
  * be checked against the generator's counts.
  */
object CdcStream {
  val TickMs = 100L
  /** The timed queries' warm-up: the load runs this long before the
    * measured window opens. A fixed time, not a convergence test, so
    * every run measures the same stretch of the queries' life. */
  val WarmupS = 18.0
  /** Untimed plan warm-up: rounds of chunks through throwaway queries. */
  val PrewarmRounds = 1
  val PrewarmEvents = 2000
  val DrainDeadlineS = 60.0
  /** Partitions of each source (a topic's partition count). */
  val SourcePartitions = 4
  val Queries = Seq("kv", "win", "wh")

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sf = ctx.sf("sf0.1")
    val base = Base.load(spark, sf)
    val dim = CdcMapping.dim(spark, sf)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val store = new InMemoryKvSink
    val sink = new CountingKvSink(store)
    val whPath = ctx.dir("warehouse")

    // A query runs on a clone of the session that copies its listeners
    // when the query starts, so the traced run attaches them first; the
    // windows diff snapshots.
    val engine = if (ctx.trace) Some(EngineCounters.attach(spark)) else None
    prewarm(ctx, base, dim)
    Main.log("plans warmed")
    val sources = Queries.map(q => q -> MemoryStream[String](spark, SourcePartitions)(Encoders.STRING)).toMap
    val queries = start(ctx, sources, dim, sink, whPath, "")

    val t0Ms = System.currentTimeMillis()
    val gen = Generator(base, ctx.seed, t0Micros = t0Ms * 1000L)
    val feeder = new Feeder(gen, t0Ms, Queries.map(sources))
    feeder.start()

    val notes = Seq.newBuilder[String]
    var attempted, failed = 0L
    def check(what: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; notes += s"$what: $detail" }
    }
    def elapsedS: Double = (System.currentTimeMillis() - t0Ms) / 1e3
    def sleepUntil(cond: => Boolean, deadlineS: Double): Boolean = {
      while (!cond && elapsedS < deadlineS && feeder.error.isEmpty &&
        queries.values.forall(_.isActive)) Thread.sleep(20)
      cond
    }

    try {
      sleepUntil(false, WarmupS)
      val setupS = Main.sinceJvmStart()
      Main.log("warm; batches so far: " + Queries.map(q => s"$q=${progress.batches(q).size}").mkString(" "))

      /** One measured window of `ctx.seconds`: events due inside it are
        * timed once every query has committed them. */
      def window(traced: Boolean): Window = {
        CountingKvSink.enabled = traced
        val eng = engine.filter(_ => traced)
        eng.foreach(_.barrier(spark))
        val engBefore = eng.map(_.snapshot())
        val kvBefore = sink.snapshot()
        val from = feeder.fed
        val fromMs = gen.dueMicros(from) / 1000
        feeder.lagMaxMs.set(0)
        val w0 = System.nanoTime()
        sleepUntil(false, elapsedS + ctx.seconds)
        val wallS = (System.nanoTime() - w0) / 1e9
        val engAfter = eng.map { e => e.barrier(spark); e.snapshot() }
        val until = math.max(from, feeder.dueCount(System.currentTimeMillis()))
        val backlog = until - feeder.fed
        val lagMax = feeder.lagMaxMs.get()
        // The load keeps running until every measured event is in.
        val inTime = sleepUntil(Queries.forall(q => feeder.committed(q, progress) >= until),
          elapsedS + DrainDeadlineS)
        val committed = Queries.map(q => q -> math.min(until, feeder.committed(q, progress))).toMap
        val kvAfter = sink.snapshot()
        CountingKvSink.enabled = false
        Window(from, until, committed, fromMs, wallS, inTime, backlog, lagMax,
          for (a <- engAfter; b <- engBefore) yield a - b,
          (kvAfter._1 - kvBefore._1, kvAfter._2 - kvBefore._2))
      }

      val plain = window(traced = false)
      Main.log(s"window done: in time ${plain.inTime}, committed ${plain.committed}")
      val traced =
        if (ctx.trace) Some(ctx.tracer.span("cdc_stream.window")(window(traced = true))) else None

      // Stop the load and drain, then check the sinks against the
      // generator's counts over everything fed.
      feeder.halt()
      feeder.error.foreach(e => check("load generator", ok = false, e.toString))
      val fed = feeder.fed
      val drained = sleepUntil(Queries.forall(q => feeder.committed(q, progress) >= fed),
        elapsedS + DrainDeadlineS)
      val heap = Main.liveHeap()
      Main.log(s"drained $drained")
      queries.values.foreach(_.stop())
      Queries.foreach(q => queries(q).exception.foreach(e =>
        check(s"query $q", ok = false, e.toString)))

      val exp = gen.expected(fed)
      val windows = plain +: traced.toSeq
      val metrics = mutable.ArrayBuffer.empty[Metric]
      windows.zipWithIndex.foreach { case (w, k) =>
        val lat = Queries.map(q =>
          q -> feeder.latenciesMs(q, progress, w.from, w.committed(q))).toMap
        // Every measured event is one operation per sink: an event not
        // at its sink by the deadline is a failed operation.
        Queries.foreach { q =>
          val n = w.until - w.from
          attempted += n
          val missing = w.until - w.committed(q)
          if (missing > 0) { failed += missing; notes += s"$q: $missing of $n events not committed in time" }
        }
        val tracedWindow = k == 1
        if (!tracedWindow && !ctx.trace && w.inTime) metrics ++= Seq(
          Metric("setup_s", setupS, "s"), heap,
          Metric("kv_p50_ms", Stats.median(lat("kv")), "ms"),
          Metric("kv_p99_ms", Stats.quantile(lat("kv"), 0.99), "ms"),
          Metric("win_p50_ms", Stats.median(lat("win")), "ms"),
          Metric("wh_p50_ms", Stats.median(lat("wh")), "ms"),
          Metric("wh_p99_ms", Stats.quantile(lat("wh"), 0.99), "ms"))
        if (tracedWindow && w.inTime) {
          val plainLat = Queries.map(q =>
            q -> feeder.latenciesMs(q, progress, plain.from, plain.committed(q))).toMap
          metrics += Metric("trace.overhead_pct",
            100 * (Stats.median(lat("kv")) / Stats.median(plainLat("kv")) - 1), "%")
          // The untraced window's latencies, as layer figures.
          metrics ++= Seq(
            Metric("streaming.kv.latency_p50_ms", Stats.median(plainLat("kv")), "ms"),
            Metric("streaming.kv.latency_p99_ms", Stats.quantile(plainLat("kv"), 0.99), "ms"),
            Metric("streaming.win.latency_p50_ms", Stats.median(plainLat("win")), "ms"),
            Metric("streaming.wh.latency_p50_ms", Stats.median(plainLat("wh")), "ms"),
            Metric("streaming.wh.latency_p99_ms", Stats.quantile(plainLat("wh"), 0.99), "ms"))
          metrics ++= layerMetrics(w, progress, whPath, ctx.cores)
        }
      }
      check("all events drained", drained, s"${fed} fed")
      Queries.foreach { q =>
        check(s"$q input rows", progress.inputRows(q) == fed,
          s"${progress.inputRows(q)} rows read, $fed fed")
      }
      // Late rows are filtered by the watermark of the previous batch,
      // which was set from the batch before it: batches 0 and 1 run
      // without one, every beyond-watermark event after them is dropped.
      val firstEnd = feeder.chunkStart(progress.batches("win").filter(_.id <= 1)
        .map(_.endOffset + 1).foldLeft(0L)(math.max))
      val lateExp = gen.beyondValid(firstEnd, fed)
      check("late rows dropped by the watermark", progress.lateDropped("win") == lateExp,
        s"${progress.lateDropped("win")}, expected $lateExp")
      val kv = store.store.keySet().asScala
      def keys(view: String) = kv.count(_.startsWith(view + "/")).toLong
      check("kv content_stats keys", keys("content_stats") == exp.contentStatsRows,
        s"${keys("content_stats")}, expected ${exp.contentStatsRows}")
      check("kv user_engagement keys", keys("user_engagement") == exp.userLatestRows,
        s"${keys("user_engagement")}, expected ${exp.userLatestRows}")
      val whRows = spark.read.parquet(whPath).count()
      check("warehouse rows", whRows == exp.enriched, s"$whRows, expected ${exp.enriched}")
      Outcome(attempted, failed, metrics.toSeq, notes.result())
    } finally {
      feeder.halt()
      queries.values.foreach(q => try q.stop() catch { case _: Throwable => () })
      spark.streams.removeListener(progress)
      engine.foreach(EngineCounters.detach(spark, _))
      store.close()
    }
  }

  /** The three sink queries over their own sources; `tag` keeps the
    * query names and directories of the plan warm-up apart. */
  def start(ctx: Ctx, sources: Map[String, MemoryStream[String]], dim: DataFrame,
      sink: KvSink, whPath: String, tag: String): Map[String, StreamingQuery] = {
    def enriched(q: String) = StreamingPipeline.enrichStream(sources(q).toDF(), dim)
    Map(
      "kv" -> StreamingPipeline.kvViewsWriter(enriched("kv"), sink)(ctx.dir(s"ckpt-kv$tag"))
        .queryName(s"kv$tag").trigger(Trigger.ProcessingTime(0)).start(),
      "win" -> StreamingPipeline.minuteWindowsStream(enriched("win"))
        .writeStream.queryName(s"win$tag").outputMode("update").format("noop")
        .option("checkpointLocation", ctx.dir(s"ckpt-win$tag"))
        .trigger(Trigger.ProcessingTime(0)).start(),
      "wh" -> StreamingPipeline.warehouseWriter(enriched("wh"), whPath,
        ctx.dir(s"ckpt-wh$tag"), Trigger.ProcessingTime(0)).queryName(s"wh$tag").start())
  }

  /** Untimed plan warm-up: throwaway copies of the three queries each
    * process [[PrewarmRounds]] small chunks, so JIT and code generation
    * for their plans are paid before the timed queries start. */
  def prewarm(ctx: Ctx, base: Base, dim: DataFrame): Unit = {
    val gen = Generator(base, ctx.seed ^ 0x77L,
      t0Micros = System.currentTimeMillis() * 1000L)
    val sources = Queries.map(q =>
      q -> MemoryStream[String](ctx.spark, SourcePartitions)(Encoders.STRING)).toMap
    val sink = new InMemoryKvSink
    val qs = start(ctx, sources, dim, sink, ctx.dir("warehouse-prewarm"), "-prewarm")
    try (0 until PrewarmRounds).foreach { k =>
      val msgs = (k * PrewarmEvents until (k + 1) * PrewarmEvents).map(i => gen.message(i.toLong))
      sources.values.foreach(_.addData(msgs))
      qs.values.foreach(_.processAllAvailable())
    } finally {
      qs.values.foreach(q => try q.stop() catch { case _: Throwable => () })
      sink.close()
    }
  }

  final case class Window(from: Long, until: Long, committed: Map[String, Long],
      fromMs: Long, wallS: Double,
      inTime: Boolean, backlog: Long, lagMaxMs: Long,
      engine: Option[EngineCounters.Snap], kv: (Long, Long))

  /** The per-layer metrics of a traced run, with their units. */
  val LayerUnits: Seq[(String, String)] =
    Queries.flatMap(q => Seq(s"streaming.$q.batches" -> "count",
      s"streaming.$q.rows_per_batch_p50" -> "rows") ++
      Seq("trigger", "add_batch", "planning", "wal", "commit")
        .map(ph => s"streaming.$q.${ph}_ms_p50" -> "ms")) ++ Seq(
    "streaming.win.state_commit_ms_p50" -> "ms", "streaming.win.state_rows" -> "rows",
    "streaming.win.state_bytes" -> "bytes", "streaming.win.late_dropped" -> "rows",
    "sink.kv.upserts" -> "count", "sink.kv.upsert_s" -> "s", "sink.wh.files" -> "count",
    "sink.wh.bytes" -> "bytes", "sink.wh.partitions_per_batch" -> "count",
    "generator.lag_ms_max" -> "ms", "generator.backlog_end" -> "events",
    "streaming.kv.latency_p50_ms" -> "ms", "streaming.kv.latency_p99_ms" -> "ms",
    "streaming.win.latency_p50_ms" -> "ms", "streaming.wh.latency_p50_ms" -> "ms",
    "streaming.wh.latency_p99_ms" -> "ms", "trace.overhead_pct" -> "%") ++
    EngineCounters.Units

  /** Per-layer metrics of a traced window: the engine's per-batch phases
    * for the batches that committed measured events, the windowed
    * state, the sinks and the load generator. */
  def layerMetrics(w: Window, progress: ProgressLog, whPath: String, cores: Int): Seq[Metric] = {
    val out = mutable.ArrayBuffer.empty[Metric]
    Queries.foreach { q =>
      val bs = progress.batches(q).filter(b => b.commitMs >= w.fromMs && b.rows > 0)
      def p50(f: Batch => Double): Double = if (bs.isEmpty) 0.0 else Stats.median(bs.map(f))
      out ++= Seq(
        Metric(s"streaming.$q.batches", bs.size.toDouble, "count"),
        Metric(s"streaming.$q.rows_per_batch_p50", p50(_.rows.toDouble), "rows"),
        Metric(s"streaming.$q.trigger_ms_p50", p50(_.triggerMs.toDouble), "ms"),
        Metric(s"streaming.$q.add_batch_ms_p50", p50(_.phase("addBatch")), "ms"),
        Metric(s"streaming.$q.planning_ms_p50", p50(_.phase("queryPlanning")), "ms"),
        Metric(s"streaming.$q.wal_ms_p50", p50(_.phase("walCommit")), "ms"),
        Metric(s"streaming.$q.commit_ms_p50", p50(_.phase("commitOffsets")), "ms"))
      if (q == "win") {
        val last = bs.lastOption
        out ++= Seq(
          Metric("streaming.win.state_commit_ms_p50", p50(_.stateCommitMs.toDouble), "ms"),
          Metric("streaming.win.state_rows", last.map(_.stateRows.toDouble).getOrElse(0.0), "rows"),
          Metric("streaming.win.state_bytes", last.map(_.stateBytes.toDouble).getOrElse(0.0), "bytes"),
          Metric("streaming.win.late_dropped", bs.map(_.lateDropped).sum.toDouble, "rows"))
      }
    }
    val (files, bytes, partsPerBatch) = warehouseFiles(whPath)
    out ++= Seq(
      Metric("sink.kv.upserts", w.kv._1.toDouble, "count"),
      Metric("sink.kv.upsert_s", w.kv._2 / 1e9, "s"),
      Metric("sink.wh.files", files.toDouble, "count"),
      Metric("sink.wh.bytes", bytes.toDouble, "bytes"),
      Metric("sink.wh.partitions_per_batch", partsPerBatch, "count"),
      Metric("generator.lag_ms_max", w.lagMaxMs.toDouble, "ms"),
      Metric("generator.backlog_end", w.backlog.toDouble, "events"))
    out ++= w.engine.toSeq.flatMap(_.metrics(w.wallS, cores))
    out.toSeq
  }

  /** Data files and bytes under the warehouse path, and the median count
    * of hour partitions one micro-batch wrote (from the sink's commit
    * log; compacted log entries no longer separate batches). */
  def warehouseFiles(path: String): (Long, Long, Double) = {
    val root = new java.io.File(path)
    val walk = java.nio.file.Files.walk(root.toPath)
    val data =
      try walk.iterator().asScala.map(_.toFile)
        .filter(f => f.isFile && f.getName.endsWith(".parquet")).toList
      finally walk.close()
    val log = new java.io.File(root, "_spark_metadata")
    val hour = "event_hour=([^/]+)/".r
    val perBatch = Option(log.listFiles()).toSeq.flatten
      .filter(f => f.getName.forall(_.isDigit))
      .map { f =>
        val src = scala.io.Source.fromFile(f, "UTF-8")
        try src.getLines().drop(1)
          .flatMap(l => hour.findFirstMatchIn(l).map(_.group(1))).toSet.size.toDouble
        finally src.close()
      }.filter(_ > 0)
    (data.size.toLong, data.map(_.length).sum,
      if (perBatch.isEmpty) 0.0 else Stats.median(perBatch))
  }
}

/** One micro-batch as its progress event reports it. */
final case class Batch(query: String, id: Long, endOffset: Long, rows: Long,
    commitMs: Long, triggerMs: Long, phases: Map[String, Long],
    stateCommitMs: Long, stateRows: Long, stateBytes: Long, lateDropped: Long) {
  def phase(k: String): Double = phases.getOrElse(k, 0L).toDouble
}

/** The benchmark's own progress listener: it keeps every batch of every
  * query. Commit time is the trigger start plus its execution time. */
final class ProgressLog extends StreamingQueryListener {
  private val log = new ConcurrentHashMap[String, mutable.ArrayBuffer[Batch]]()

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryIdle(e: QueryIdleEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val phases = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val end = Option(p.sources).filter(_.nonEmpty).flatMap(s => Option(s(0).endOffset))
      .flatMap(o => scala.util.Try(o.trim.toLong).toOption).getOrElse(-1L)
    val st = Option(p.stateOperators).filter(_.nonEmpty).map(_(0))
    val trig = phases.getOrElse("triggerExecution", 0L)
    val b = Batch(p.name, p.batchId, end, p.numInputRows,
      java.time.Instant.parse(p.timestamp).toEpochMilli + trig, trig, phases,
      st.map(_.commitTimeMs).getOrElse(0L), st.map(_.numRowsTotal).getOrElse(0L),
      st.map(_.memoryUsedBytes).getOrElse(0L), st.map(_.numRowsDroppedByWatermark).getOrElse(0L))
    val buf = log.computeIfAbsent(p.name, _ => mutable.ArrayBuffer.empty[Batch])
    buf.synchronized(buf += b)
  }

  def batches(q: String): Seq[Batch] =
    Option(log.get(q)).map(b => b.synchronized(b.toList)).getOrElse(Nil).sortBy(_.id)
  def latest(q: String): Option[Batch] = batches(q).lastOption
  def inputRows(q: String): Long = batches(q).map(_.rows).sum
  def lateDropped(q: String): Long = batches(q).map(_.lateDropped).sum
}

/** The open-loop load thread. Every tick it hands all events that have
  * fallen due to every source, as one chunk (one source offset). */
final class Feeder(gen: Generator, t0Ms: Long, sources: Seq[MemoryStream[String]])
    extends Thread("perfbench-load") {
  setDaemon(true)
  @volatile private var running = true
  @volatile var error: Option[Throwable] = None
  @volatile private var fedCount = 0L
  val lagMaxMs = new AtomicLong
  /** chunkEnd(k): events [chunkEnd(k-1), chunkEnd(k)) are source offset k. */
  private val chunkEnd = mutable.ArrayBuffer.empty[Long]

  def fed: Long = fedCount
  def dueCount(nowMs: Long): Long =
    math.max(0L, ((nowMs - t0Ms) * Generator.Rate / 1000.0).toLong)

  override def run(): Unit =
    try {
      while (running) {
        val now = System.currentTimeMillis()
        tick(now)
        Thread.sleep(math.max(1L, CdcStream.TickMs - (System.currentTimeMillis() - now)))
      }
    } catch { case e: Throwable => error = Some(e) }

  private def tick(now: Long): Unit = {
    val due = dueCount(now)
    if (due > fedCount) {
      lagMaxMs.accumulateAndGet(now - gen.dueMicros(fedCount) / 1000, math.max)
      val msgs = (fedCount until due).map(gen.message)
      val offsets = sources.map(_.addData(msgs)).map {
        case LongOffset(o) => o
        case o => sys.error(s"unexpected source offset $o")
      }
      val chunks = chunkCount
      require(offsets.forall(_ == chunks),
        s"sources out of step: offsets $offsets after $chunks chunks")
      chunkEnd.synchronized { chunkEnd += due }
      fedCount = due
    }
  }

  /** First event of source offset `k` (all events when k is past the end). */
  def chunkStart(k: Long): Long = chunkEnd.synchronized {
    if (k <= 0) 0L else chunkEnd(math.min(k, chunkEnd.size.toLong).toInt - 1)
  }

  private def chunkCount: Long = chunkEnd.synchronized(chunkEnd.size.toLong)

  /** Stop the load and wait for the thread to end. */
  def halt(): Unit = { running = false; join(10000) }

  /** Events [0, n) query `q` has committed (its latest batch's end). */
  def committed(q: String, progress: ProgressLog): Long = {
    val end = progress.batches(q).filter(_.endOffset >= 0).map(_.endOffset)
      .foldLeft(-1L)(math.max)
    if (end < 0) 0L else chunkEnd.synchronized(chunkEnd(end.toInt))
  }

  /** Due-to-commit latency of every event in [from, until) that `q` has
    * committed. */
  def latenciesMs(q: String, progress: ProgressLog, from: Long, until: Long): Seq[Double] = {
    val ends = chunkEnd.synchronized(chunkEnd.toArray)
    val out = mutable.ArrayBuffer.empty[Double]
    var chunkStart = 0L
    var k = 0
    val bs = progress.batches(q).filter(_.endOffset >= 0).iterator.buffered
    while (k < ends.length) {
      while (bs.hasNext && bs.head.endOffset < k) bs.next()
      if (bs.hasNext) {
        val commitMs = bs.head.commitMs
        var i = math.max(chunkStart, from)
        while (i < math.min(ends(k), until)) {
          out += (commitMs - gen.dueMicros(i) / 1000.0)
          i += 1
        }
      }
      chunkStart = ends(k)
      k += 1
    }
    out.toSeq
  }
}

/** KvSink wrapper that counts upserts and the time spent in them while
  * [[CountingKvSink.enabled]]; otherwise it passes straight through.
  * Counters live in a JVM-wide registry keyed per sink, because the sink
  * is serialized into every task. */
final class CountingKvSink(inner: KvSink) extends KvSink {
  private val id = java.util.UUID.randomUUID().toString
  def upsert(view: String, key: String, value: String): Unit =
    if (!CountingKvSink.enabled) inner.upsert(view, key, value)
    else {
      val t0 = System.nanoTime()
      inner.upsert(view, key, value)
      val c = CountingKvSink.counters.computeIfAbsent(id, _ => Array(new AtomicLong, new AtomicLong))
      c(0).incrementAndGet()
      c(1).addAndGet(System.nanoTime() - t0)
    }
  /** (upserts, nanoseconds in upsert) so far. */
  def snapshot(): (Long, Long) =
    Option(CountingKvSink.counters.get(id)).map(c => (c(0).get, c(1).get)).getOrElse((0L, 0L))
}

object CountingKvSink {
  @volatile var enabled = false
  private val counters = new ConcurrentHashMap[String, Array[AtomicLong]]()
}
