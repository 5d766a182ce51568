package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Row material the generator draws from: the fact-side payload columns
  * and the dimension of the CDC mapping (`CdcMapping.fact`/`dim`). Event
  * ids, user ids, content ids and event times are NOT taken from here —
  * they are drawn per seed. `durationMs` uses -1 for null, `dimLength`
  * uses -1 for null. */
final case class Base(
    eventType: Array[String],
    durationMs: Array[Int],
    device: Array[String],
    rawPayload: Array[String],
    dimIds: Array[Long],
    dimLength: Array[Int]) {
  require(eventType.nonEmpty && dimIds.nonEmpty, "empty generator base")
  def templates: Int = eventType.length
}

object Base {
  /** Collect the base rows of the CDC mapping over one fixture dir. */
  def load(spark: SparkSession, sfDir: String): Base = {
    val fact = graft.queries.CdcMapping.fact(spark, sfDir)
      .select(col("id"), col("event_type"), col("duration_ms"),
        col("device"), col("raw_payload"))
    val f = fact.collect().sortBy(_.getLong(0))
    val d = graft.queries.CdcMapping.dim(spark, sfDir)
      .select(col("id"), col("length_seconds")).collect().sortBy(_.getLong(0))
    Base(
      f.map(_.getString(1)),
      f.map(r => if (r.isNullAt(2)) -1 else r.getInt(2)),
      f.map(r => if (r.isNullAt(3)) null else r.getString(3)),
      f.map(r => if (r.isNullAt(4)) null else r.getString(4)),
      d.map(_.getLong(0)),
      d.map(r => if (r.isNullAt(1)) -1 else r.getInt(1)))
  }
}

/** One generated event, before serialization. `kind` is 0 for a good
  * row, 1 for `json_error`, 2 for `missing_after`. `template` indexes
  * the base fact payloads; `dim` indexes the dimension (-1 on a miss). */
final case class Event(i: Long, kind: Int, envelope: Boolean, id: Long,
    contentId: Long, dim: Int, userId: Long, template: Int,
    dueMicros: Long, tsMicros: Long, beyond: Boolean)

/** What a correct program must produce from events `[0, n)`. */
final case class Expected(
    messages: Long,
    parsedRows: Long,
    jsonErrors: Long,
    missingAfter: Long,
    misses: Long,
    enriched: Long,
    valid: Long,
    leaderboardRows: Long,
    contentStatsRows: Long,
    userLatestRows: Long,
    minuteWindowRows: Long)

/** Seeded CDC message generator. Every event is a pure function of
  * `(seed, i)` (a counter-based SplitMix64 stream), so any range can be
  * produced in any order, on any thread, and the same seed always yields
  * byte-identical messages. Event, user and miss ids are offset by
  * per-seed bases, so a new seed gives new ids.
  *
  * Event time comes from the generator clock (`t0Micros` + due offset),
  * minus the event's lateness. The k-th beyond-watermark event takes
  * content `k mod |dim|`, so two of them share a windowed-aggregation
  * group only if they are `BeyondEvery * |dim|` events apart — far more
  * than one run feeds. That keeps the engine's late-row counter exactly
  * predictable.
  */
final case class Generator(base: Base, seed: Long,
    t0Micros: Long = Generator.DefaultT0Micros) {
  import Generator._

  private val seedMix = splitmix(seed ^ 0x5DEECE66DL)
  val idBase: Long = (splitmix(seedMix + 1) >>> 24) << 20
  val userBase: Long = (splitmix(seedMix + 2) >>> 28) << 16
  val missBase: Long = 1000000000L + ((splitmix(seedMix + 3) >>> 40) << 8)
  private val beyondPhase: Long = java.lang.Long.remainderUnsigned(
    splitmix(seedMix + 5), BeyondEvery.toLong)

  // Zipf over ranks 1..D; rank r maps to dimension slot perm(r-1).
  private val dimCount = base.dimIds.length
  private val zipfCdf: Array[Double] = {
    val w = Array.tabulate(dimCount)(r => 1.0 / math.pow(r + 1.0, ZipfS))
    val c = w.scanLeft(0.0)(_ + _).tail
    val total = c.last
    c.map(_ / total)
  }
  private val perm: Array[Int] = {
    val p = Array.tabulate(dimCount)(identity)
    var s = seedMix + 4
    var k = dimCount - 1
    while (k > 0) {
      s += Golden
      val j = java.lang.Long.remainderUnsigned(splitmix(s), (k + 1).toLong).toInt
      val t = p(k); p(k) = p(j); p(j) = t
      k -= 1
    }
    p
  }
  private val dueStepMicros = 1e6 / Rate

  def dueMicros(i: Long): Long = t0Micros + (i * dueStepMicros).toLong

  def event(i: Long): Event = {
    var s = seedMix + (i + 16) * Golden * 7
    def next(): Double = { s += Golden; (splitmix(s) >>> 11) * Unit53 }
    val uKind = next(); val uShape = next(); val uMiss = next()
    val uContent = next(); val uLate = next(); val uLateBy = next()
    val uUser = next(); val uTemplate = next()
    val kind =
      if (uKind < JsonErrorShare) 1
      else if (uKind < JsonErrorShare + MissingAfterShare) 2
      else 0
    val due = dueMicros(i)
    val beyond = isBeyond(i)
    val late = !beyond && uLate < LateShare
    val lateMicros =
      if (beyond) (12 * 60e6 + uLateBy * 8 * 60e6).toLong
      else if (late) (60e6 + uLateBy * 4 * 60e6).toLong
      else 0L
    val miss = !beyond && uMiss < MissShare
    val dim =
      if (miss) -1
      else if (beyond) ((i / BeyondEvery) % dimCount).toInt
      else {
        var k = java.util.Arrays.binarySearch(zipfCdf, uContent)
        if (k < 0) k = -k - 1
        perm(math.min(k, dimCount - 1))
      }
    val contentId =
      if (dim >= 0) base.dimIds(dim)
      else missBase + (uContent * 1e6).toLong
    Event(i, kind, uShape < EnvelopeShare, idBase + i, contentId, dim,
      userBase + (uUser * Users).toLong,
      (uTemplate * base.templates).toInt, due, due - lateMicros, beyond)
  }

  def isBeyond(i: Long): Boolean = i % BeyondEvery == beyondPhase

  /** Beyond-watermark events in `[from, until)` that reach the windowed
    * aggregation (parsed, enriched, P6-valid): what its watermark must
    * drop once it is set. */
  def beyondValid(from: Long, until: Long): Long = {
    var n = 0L
    var i = from + Math.floorMod(beyondPhase - from, BeyondEvery.toLong)
    while (i < until) {
      val e = event(i)
      if (e.kind == 0 && pctCents(e) >= 0) n += 1
      i += BeyondEvery
    }
    n
  }

  /** engagement_pct in cents, -1 when the program's P6 gate drops it
    * (null duration, null or zero length): the integer HALF_UP form of
    * `Enrichment.engagementPct`. */
  def pctCents(e: Event): Long = {
    val d = base.durationMs(e.template)
    val len = if (e.dim >= 0) base.dimLength(e.dim) else -1
    if (d < 0 || len <= 0) -1L
    else {
      val es = (d / 1000).toLong
      (es * 20000L + len) / (2L * len)
    }
  }

  def message(i: Long): String = render(event(i))

  def render(e: Event): String = {
    val b = new java.lang.StringBuilder(320)
    def row(): Unit = {
      b.append("\"id\":").append(e.id)
      b.append(",\"content_id\":\"").append(e.contentId).append('"')
      b.append(",\"user_id\":\"").append(e.userId).append('"')
      b.append(",\"event_type\":").append(Json.str(base.eventType(e.template)))
      b.append(",\"event_ts\":\"")
      formatMicros(e.tsMicros, b)
      b.append('"')
      val d = base.durationMs(e.template)
      b.append(",\"duration_ms\":")
      if (d < 0) b.append("null") else b.append(d)
      val dev = base.device(e.template)
      b.append(",\"device\":").append(if (dev == null) "null" else Json.str(dev))
      val raw = base.rawPayload(e.template)
      b.append(",\"raw_payload\":").append(if (raw == null) "null" else Json.str(raw))
    }
    val sourceMs = e.dueMicros / 1000
    val deleted = e.kind == 2
    if (e.envelope) {
      b.append("{\"payload\":{\"before\":")
      if (deleted) { b.append('{'); row(); b.append('}') } else b.append("null")
      b.append(",\"after\":")
      if (deleted) b.append("null") else { b.append('{'); row(); b.append('}') }
      b.append(",\"op\":\"").append(if (deleted) 'd' else 'c')
      b.append("\",\"ts_ms\":").append(sourceMs).append("}}")
    } else {
      b.append('{')
      if (!deleted) { row(); b.append(',') }
      b.append("\"__op\":\"").append(if (deleted) 'd' else 'c')
      b.append("\",\"__source_ts_ms\":").append(sourceMs)
      b.append(",\"__source_db\":\"engagement\",\"__source_table\":\"engagement_events\"}")
    }
    val s = b.toString
    // A malformed message is a good one cut off mid-object.
    if (e.kind == 1) s.substring(0, s.length / 2) else s
  }

  /** Expected program outputs over events `[0, n)`. */
  def expected(n: Long): Expected = {
    var parsed, jsonErr, missingAfter, misses, valid = 0L
    val contents = new java.util.HashSet[java.lang.Long]()
    val userContent = new java.util.HashSet[java.lang.Long]()
    val windows = new java.util.HashSet[java.lang.Long]()
    var i = 0L
    while (i < n) {
      val e = event(i)
      e.kind match {
        case 1 => jsonErr += 1
        case 2 => missingAfter += 1
        case _ =>
          parsed += 1
          if (e.dim < 0) misses += 1
          else {
            val cents = pctCents(e)
            if (cents >= 0) {
              valid += 1
              contents.add(e.dim.toLong)
              userContent.add((e.userId - userBase) * dimCount + e.dim)
              val minute = Math.floorDiv(e.tsMicros, 60000000L) -
                Math.floorDiv(t0Micros, 60000000L) + 64
              windows.add((minute << 44) | (e.dim.toLong << 28) | cents)
            }
          }
      }
      i += 1
    }
    Expected(n, parsed, jsonErr, missingAfter, misses, parsed - misses, valid,
      math.min(100, contents.size).toLong, contents.size.toLong,
      userContent.size.toLong, windows.size.toLong)
  }
}

object Generator {
  // Input properties of the generated CDC stream. Shares are per event.
  /** Events per second of the generator clock; event i is due at
    * `t0 + i / Rate`. */
  val Rate = 3333.0
  /** Exponent of the Zipf law over content ids (rank order is a per-seed
    * permutation of the dimension). */
  val ZipfS = 1.1
  /** Distinct users events are drawn from, uniformly. */
  val Users = 5000
  /** Debezium envelope vs flattened (unwrap SMT) shape. */
  val EnvelopeShare = 0.5
  /** Malformed messages. */
  val JsonErrorShare = 0.005
  /** Valid messages without a row payload (deletes, empty rows). */
  val MissingAfterShare = 0.005
  /** Content ids absent from the dimension (enrichment misses). */
  val MissShare = 0.01
  /** Event time 1-5 min behind the clock (inside the 10-minute
    * watermark). */
  val LateShare = 0.02
  /** Every `BeyondEvery`-th event (at a per-seed phase) is 12-20 min
    * behind the clock (beyond the watermark). */
  val BeyondEvery = 200

  /** 2026-01-01T00:00:00Z — the fixed clock origin of batch workloads. */
  val DefaultT0Micros: Long = 1767225600L * 1000000L
  private val Golden = 0x9E3779B97F4A7C15L
  private val Unit53 = 1.0 / (1L << 53)

  def splitmix(x: Long): Long = {
    var z = x + Golden
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** `yyyy-MM-ddTHH:mm:ss.SSSSSS` (UTC) — the reference's timestamp form. */
  def formatMicros(micros: Long, b: java.lang.StringBuilder): Unit = {
    val secs = Math.floorDiv(micros, 1000000L)
    val frac = Math.floorMod(micros, 1000000L).toInt
    val t = java.time.LocalDateTime.ofEpochSecond(secs, 0, java.time.ZoneOffset.UTC)
    def pad(v: Int, w: Int): Unit = {
      val s = v.toString
      var k = s.length
      while (k < w) { b.append('0'); k += 1 }
      b.append(s)
    }
    pad(t.getYear, 4); b.append('-'); pad(t.getMonthValue, 2); b.append('-')
    pad(t.getDayOfMonth, 2); b.append('T'); pad(t.getHour, 2); b.append(':')
    pad(t.getMinute, 2); b.append(':'); pad(t.getSecond, 2); b.append('.')
    pad(frac, 6)
  }
}
