package graft.perfbench

import org.apache.spark.sql.{DataFrame, Encoders, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit}

import graft.enrich.Enrichment
import graft.ingest.DebeziumParser
import graft.queries.CdcMapping
import graft.views.EngagementViews

/** `cdc_batch`: a closed loop of back-to-back batch runs, each one
  * parse → enrich → all four views over the same generated Debezium
  * messages (cached as raw text before the clock starts; producing them
  * is the source's cost, not the pipeline's). Every run checks each
  * view's row count against the generator's expectation.
  *
  * The traced run materializes each stage separately (parsed rows, then
  * enriched rows, then each view over the cached enriched rows); the
  * stage times are set against the untraced run's wall time.
  */
object CdcBatch {
  val Messages: Long = 300000L
  /** Source parallelism of the raw input (a multi-partition topic). */
  val Partitions = 8
  /** Set-up runs the whole pipeline once over this prefix of the input,
    * checking the side channels (errors by kind, misses) and the views,
    * then once over the whole input: the same plans, so code generation
    * and JIT are warm before timing. */
  val WarmupMessages: Long = 50000L

  def run(ctx: Ctx): Outcome = {
    val spark = ctx.spark
    val sf = ctx.sf("sf0.1")
    val gen = Generator(Base.load(spark, sf), ctx.seed)
    Main.log("generator base loaded")
    val exp = gen.expected(Messages)
    Main.log("expected counts computed")
    val dim = CdcMapping.dim(spark, sf)
    val raw = input(spark, gen, Messages, Partitions)
    Main.log("input cached")
    val notes = Seq.newBuilder[String]
    var attempted, failed = 0L
    def check(what: String, ok: Boolean, detail: => String): Unit = {
      attempted += 1
      if (!ok) { failed += 1; notes += s"$what: $detail" }
    }

    locally {
      val warm = input(spark, gen, WarmupMessages, Partitions)
      val wExp = gen.expected(WarmupMessages)
      try {
        val side = sideChannels(warm, dim)
        check("side channels", side == Map(
            "parsed" -> wExp.parsedRows, "json_error" -> wExp.jsonErrors,
            "missing_after" -> wExp.missingAfter, "misses" -> wExp.misses),
          s"got $side, expected $wExp")
        val got = fullRun(warm, dim)
        check("warm-up run", got == expectedViews(wExp), s"got $got, expected ${expectedViews(wExp)}")
      } finally warm.unpersist(blocking = true)
    }
    // One full-size run: the first run over the whole input is still on
    // the steep part of the JIT curve.
    locally {
      val got = fullRun(raw, dim)
      check("warm-up run", got == expectedViews(exp), s"got $got, expected ${expectedViews(exp)}")
      Main.log("warm-up done")
    }
    val setupS = Main.sinceJvmStart()

    def measured(runOnce: () => Map[String, Long]): Seq[Double] =
      Loop.closed(ctx.seconds) { () =>
        try {
          val got = runOnce()
          Main.log("run done")
          val ok = got == expectedViews(exp)
          check("run", ok, s"got $got, expected ${expectedViews(exp)}")
          ok
        } catch { case e: Throwable => check("run", ok = false, e.toString); false }
      }

    val plain = measured(() => fullRun(raw, dim))
    val metrics =
      if (!ctx.trace) {
        val heap = Main.liveHeap()
        Seq(Metric("setup_s", setupS, "s"), heap) ++
          (if (plain.isEmpty) Nil else Seq(Metric("pass_s", Stats.median(plain), "s")))
      } else {
        val engine = EngineCounters.attach(spark)
        engine.barrier(spark)
        val before = engine.snapshot()
        val t0 = System.nanoTime()
        val stages = scala.collection.mutable.ArrayBuffer.empty[Map[String, Double]]
        val traced = measured { () =>
          val (views, st) = stagedRun(ctx.tracer, raw, dim)
          stages += st
          views
        }
        val wall = (System.nanoTime() - t0) / 1e9
        engine.barrier(spark)
        val eng = engine.snapshot() - before
        EngineCounters.detach(spark, engine)
        def med(k: String): Double = Stats.median(stages.map(_(k)).toSeq)
        LayerUnits.map { case (k, unit) => Metric(k, med(k), unit) } ++ Seq(
          // Staged layer times against the untraced run that pass_s
          // times: the share of its wall time the stage breakdown covers.
          Metric("trace.reconcile_pct",
            if (plain.isEmpty) Double.NaN else 100 * med("stages_s") / Stats.median(plain), "%"),
          Metric("trace.overhead_pct", Loop.overheadPct(plain, traced), "%")) ++
          eng.metrics(wall, ctx.cores, traced.size)
      }
    raw.unpersist(blocking = true)
    val batch = Outcome(attempted, failed, metrics, notes.result())
    if (!ctx.trace) batch else batch ++ streamPhase(ctx)
  }

  /** The per-layer metrics of the staged run (ingest, enrich, views). */
  val LayerUnits: Seq[(String, String)] = Seq(
    "ingest.parse_s" -> "s", "ingest.parse_errors" -> "count",
    "enrich.join_s" -> "s", "enrich.misses" -> "count",
    "views.leaderboard_s" -> "s", "views.content_stats_s" -> "s",
    "views.user_latest_s" -> "s", "views.minute_windows_s" -> "s")

  /** The traced run also runs the `cdc_stream` workload, so the streaming,
    * sink and generator layers are measured by the benchmark's driven
    * workloads: its event-to-sink latencies vary too much from run to run
    * for a bounded end-to-end metric. Its engine figures and overhead are
    * renamed so they do not collide with the batch run's. */
  def streamPhase(ctx: Ctx): Outcome = {
    val o = CdcStream.run(ctx)
    o.copy(metrics = o.metrics.map(m => m.copy(name = streamName(m.name))))
  }

  /** The per-layer metrics [[streamPhase]] reports. */
  val StreamLayerUnits: Seq[(String, String)] =
    CdcStream.LayerUnits.map { case (k, unit) => streamName(k) -> unit }

  private def streamName(k: String): String =
    if (k.startsWith("engine.")) "streaming." + k
    else if (k == "trace.overhead_pct") "streaming.trace_overhead_pct"
    else k

  /** The raw message column, generated on the executors (the generator
    * is a pure function of (seed, i)) and cached before any timing. */
  def input(spark: SparkSession, gen: Generator, n: Long, parts: Int): DataFrame = {
    val g = spark.sparkContext.broadcast(gen)
    val raw = spark.range(0, n, 1, parts)
      .map((i: java.lang.Long) => g.value.message(i))(Encoders.STRING)
      .toDF("value").persist()
    raw.count()
    raw
  }

  def views(enriched: DataFrame): Seq[(String, DataFrame)] = Seq(
    "leaderboard" -> EngagementViews.leaderboard(enriched, 100),
    "content_stats" -> EngagementViews.contentStats(enriched),
    "user_latest" -> EngagementViews.userContentLatest(enriched),
    "minute_windows" -> EngagementViews.minuteWindows(enriched))

  def expectedViews(e: Expected): Map[String, Long] = Map(
    "leaderboard" -> e.leaderboardRows, "content_stats" -> e.contentStatsRows,
    "user_latest" -> e.userLatestRows, "minute_windows" -> e.minuteWindowRows)

  /** Evaluate every column of `df` (noop sink) and return its row count. */
  def forceCount(df: DataFrame): Long = {
    val obs = Observation()
    df.observe(obs, count(lit(1)).as("n")).write.format("noop").mode("overwrite").save()
    obs.get("n").asInstanceOf[Long]
  }

  /** One untraced run: enriched rows cached once, the four views read
    * them. Returns view -> row count. */
  def fullRun(raw: DataFrame, dim: DataFrame): Map[String, Long] = {
    val enriched = Enrichment.enrich(DebeziumParser.parseEvents(raw).rows, dim).rows.persist()
    try views(enriched).map { case (k, v) => k -> forceCount(v) }.toMap
    finally enriched.unpersist(blocking = true)
  }

  /** One traced run, each stage materialized on its own. Returns view
    * -> row count and the stage measurements.
    *
    * Parsing is timed on its own through the noop sink. The enriched rows
    * are then built and cached from the raw input exactly as the untraced
    * run builds them (parse and join fused), and `enrich.join_s` is that
    * build less the parse time: caching the parsed rows as a stage of
    * their own made the staged run ~65 % slower than the run it breaks
    * down. Parse errors and misses are the differences of the
    * materialized counts (the parser and the inner join drop exactly
    * those rows). */
  def stagedRun(tracer: Tracer, raw: DataFrame, dim: DataFrame)
      : (Map[String, Long], Map[String, Double]) = {
    var parsedN, enrichedN = 0L
    val st = scala.collection.mutable.Map.empty[String, Double]
    def stage[T](name: String)(body: => T): T = {
      val s0 = System.nanoTime()
      val r = tracer.span(name)(body)
      st(s"${name}_s") = (System.nanoTime() - s0) / 1e9
      r
    }
    val got = tracer.span("cdc_batch.run") {
      parsedN = stage("ingest.parse")(forceCount(DebeziumParser.parseEvents(raw).rows))
      val enriched = stage("enrich.build") {
        val e = Enrichment.enrich(DebeziumParser.parseEvents(raw).rows, dim).rows.persist()
        enrichedN = e.count()
        e
      }
      try views(enriched).map { case (k, v) => k -> stage(s"views.$k")(forceCount(v)) }.toMap
      finally enriched.unpersist(blocking = true)
    }
    st("enrich.join_s") = st.remove("enrich.build_s").get - st("ingest.parse_s")
    st("stages_s") = st.values.sum
    st("ingest.parse_errors") = (raw.count() - parsedN).toDouble
    st("enrich.misses") = (parsedN - enrichedN).toDouble
    (got, st.toMap)
  }

  /** Parsed rows, errors by kind and enrichment misses through the
    * program's own side channels. */
  def sideChannels(raw: DataFrame, dim: DataFrame): Map[String, Long] = {
    val parsed = DebeziumParser.parseEvents(raw)
    val errs = parsed.errors.groupBy(col("error")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    Map("parsed" -> parsed.rows.count(),
      "json_error" -> errs.getOrElse("json_error", 0L),
      "missing_after" -> errs.getOrElse("missing_after", 0L),
      "misses" -> Enrichment.enrich(parsed.rows, dim).misses.count())
  }
}

/** Measurement loops shared by the workloads. */
object Loop {
  /** Closed loop: run `op` back to back until `seconds` have passed
    * (the last run finishes). `op` reports its own failures and returns
    * whether it succeeded; only successful runs become timings. */
  def closed(seconds: Double)(op: () => Boolean): Seq[Double] = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    val ok = Seq.newBuilder[Double]
    while (System.nanoTime() < end) {
      val t0 = System.nanoTime()
      if (op()) ok += (System.nanoTime() - t0) / 1e9
    }
    ok.result()
  }

  /** Traced-minus-untraced median wall time, in % of the untraced. */
  def overheadPct(plain: Seq[Double], traced: Seq[Double]): Double =
    if (plain.isEmpty || traced.isEmpty) Double.NaN
    else 100 * (Stats.median(traced) / Stats.median(plain) - 1)
}
