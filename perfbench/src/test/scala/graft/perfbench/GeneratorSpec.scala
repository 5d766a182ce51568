package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

class GeneratorSpec extends AnyFunSuite {
  private val base = Base(
    eventType = Array("play", "pause", "finish", "click"),
    durationMs = Array(12000, 0, 345678, -1),
    device = Array("ios", null, "web", "tv"),
    rawPayload = Array("{\"k\": 1}", "{\"k\": \"a\\\"b\"}", null, "{}"),
    dimIds = Array.tabulate(500)(_.toLong),
    dimLength = Array.tabulate(500)(i => if (i % 50 == 0) 0 else 60 + i))
  private val n = 20000L

  private def bytes(g: Generator): Array[Byte] =
    (0L until n).map(g.message).mkString("\n").getBytes("UTF-8")

  test("the same seed gives byte-identical messages") {
    assert(java.util.Arrays.equals(bytes(Generator(base, 7)), bytes(Generator(base, 7))))
  }

  test("events are a pure function of (seed, index): any order, any range") {
    val g = Generator(base, 7)
    val forward = (0L until 500L).map(g.message)
    val backward = (0L until 500L).reverse.map(g.message).reverse
    assert(forward == backward)
  }

  test("a new seed gives new event, user and miss ids") {
    val a = Generator(base, 7)
    val b = Generator(base, 8)
    val ea = (0L until n).map(a.event)
    val eb = (0L until n).map(b.event)
    assert(ea.map(_.id).toSet.intersect(eb.map(_.id).toSet).isEmpty)
    assert(ea.map(_.userId).toSet.intersect(eb.map(_.userId).toSet).isEmpty)
    val missA = ea.filter(_.dim < 0).map(_.contentId).toSet
    val missB = eb.filter(_.dim < 0).map(_.contentId).toSet
    assert(missA.nonEmpty && missA.intersect(missB).isEmpty)
    assert(ea.map(_.id).distinct.size == n)
  }

  test("the mix follows the generator's shares") {
    val g = Generator(base, 3)
    val es = (0L until n).map(g.event)
    def share(p: Event => Boolean): Double = es.count(p).toDouble / n
    assert(math.abs(share(_.envelope) - 0.5) < 0.02)
    assert(math.abs(share(_.kind == 1) - 0.005) < 0.002)
    assert(math.abs(share(_.kind == 2) - 0.005) < 0.002)
    assert(math.abs(share(_.dim < 0) - 0.01) < 0.004)
    assert(math.abs(share(e => e.tsMicros < e.dueMicros) - 0.025) < 0.005)
    assert(es.count(_.beyond) == n / Generator.BeyondEvery)
    // Zipf: the hottest content takes far more than a uniform share.
    val hottest = es.filter(_.dim >= 0).groupBy(_.dim).values.map(_.size).max
    assert(hottest > 20 * n / base.dimIds.length)
  }

  test("event time follows the generator clock; late events stay within their band") {
    val g = Generator(base, 5)
    (0L until n).map(g.event).foreach { e =>
      assert(e.dueMicros == g.dueMicros(e.i))
      val lateMin = (e.dueMicros - e.tsMicros) / 60e6
      if (e.beyond) assert(lateMin >= 12 && lateMin < 20)
      else assert(lateMin == 0 || (lateMin >= 1 && lateMin < 5))
    }
  }

  test("beyond-watermark events never share content inside a run") {
    val g = Generator(base, 5)
    val beyond = (0L until 200L * base.dimIds.length).filter(g.isBeyond).map(g.event)
    assert(beyond.map(_.dim).distinct.size == beyond.size)
  }

  test("malformed messages do not parse, every other message does, in its shape") {
    val g = Generator(base, 9)
    val json = new ObjectMapper()
    (0L until 5000L).map(g.event).foreach { e =>
      val msg = g.render(e)
      if (e.kind == 1) assert(scala.util.Try(json.readTree(msg)).isFailure, msg)
      else {
        val node = json.readTree(msg)
        val row =
          if (e.envelope) node.get("payload").get(if (e.kind == 2) "before" else "after")
          else node
        if (e.kind == 2 && !e.envelope) assert(!node.has("id"))
        else {
          assert(row.get("id").asLong == e.id)
          assert(row.get("content_id").asText == e.contentId.toString)
        }
        if (e.kind == 2 && e.envelope) assert(node.get("payload").get("after").isNull)
      }
    }
  }

  test("expected counts add up") {
    val g = Generator(base, 11)
    val x = g.expected(n)
    assert(x.parsedRows + x.jsonErrors + x.missingAfter == n)
    assert(x.enriched == x.parsedRows - x.misses)
    assert(x.valid <= x.enriched)
    assert(x.contentStatsRows <= x.valid && x.userLatestRows <= x.valid)
    assert(x.leaderboardRows == math.min(100, x.contentStatsRows))
    assert(g.beyondValid(0, n) <= n / Generator.BeyondEvery)
  }

  test("timestamps render in the reference's micro-second form") {
    val b = new java.lang.StringBuilder
    Generator.formatMicros(Generator.DefaultT0Micros + 3723000042L, b)
    assert(b.toString == "2026-01-01T01:02:03.000042")
  }
}
