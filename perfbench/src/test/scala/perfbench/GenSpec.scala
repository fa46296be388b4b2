package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  private val base = (0 until 50).map(i =>
    Gen.Doc(i.toLong, s"tok$i shared word", Seq(i.toDouble, 1.0)))

  test("race messages are the same for the same seed and differ across seeds") {
    val a = Gen.raceMessages(7, 2000)
    assert(a == Gen.raceMessages(7, 2000))
    assert(a != Gen.raceMessages(8, 2000))
    assert(a.size == 2000)
    assert(Gen.raceMessages(7, 1000) == a.take(1000))
  }

  test("race messages: 20 per race, positions 1..finishers, retirements null") {
    val msgs = Gen.raceMessages(3, 20 * 200)
    val races = msgs.groupBy(_.sessionKey)
    assert(races.size == 200)
    races.values.foreach { r =>
      assert(r.map(_.driver).toSet == Gen.Drivers.map(_._1).toSet)
      val pos = r.flatMap(_.position).sorted
      assert(pos == (1 to pos.size))
      assert(r.map(_.gp).distinct.size == 1)
    }
    val nullShare = msgs.count(_.position.isEmpty).toDouble / msgs.size
    assert(nullShare > 0.07 && nullShare < 0.13, s"null share $nullShare")
    val retired = msgs.find(_.position.isEmpty).get
    assert(retired.json.contains("\"position\":null"))
    assert(retired.json.contains("\"dnf\":true"))
    val first = msgs.head
    Seq("grand_prix", "date", "driver_number", "position", "laps_completed", "dnf",
      "gap_to_leader", "meeting_key", "session_key").foreach { f =>
      assert(first.json.contains("\"" + f + "\":"), f)
    }
  }

  test("copies follow the token-suffix rule with offset ids") {
    val d = Gen.Doc(3, "alpha beta  gamma", Seq(0.5))
    assert(Gen.copyOf(d, 0, 100) == d)
    val c = Gen.copyOf(d, 2, 100)
    assert(c.docId == 203L)
    assert(c.text == "alphaq2 betaq2 q2 gammaq2")
    assert(c.embedding == d.embedding)
  }

  test("the doc stream is a seeded permutation of the base, then of its copies") {
    val s = Gen.docStream(base, 11, 120)
    assert(s == Gen.docStream(base, 11, 120))
    assert(s != Gen.docStream(base, 12, 120))
    assert(s.take(50).map(_.docId).sorted == base.map(_.docId))
    assert(s.slice(50, 100).map(_.docId).sorted == base.map(_.docId + 50))
    assert(s.slice(50, 100).forall(_.text.split(" ").forall(_.endsWith("q1"))))
    assert(s.map(_.docId).distinct.size == 120)
  }

  test("dashboard requests rotate through the four kinds from a seeded phase") {
    val r = Gen.dashboardRequests(5, 40)
    assert(r == Gen.dashboardRequests(5, 40))
    val kinds = r.map(_.kind)
    val cycle = Seq("standings", "podium", "gp_detail", "win_rate")
    val phase = cycle.indexOf(kinds.head)
    assert(kinds == (0 until 40).map(i => cycle((i + phase) % 4)))
    val gps = r.collect { case Gen.GpDetail(gp) => gp }
    assert(gps.nonEmpty && gps.forall(Gen.GrandsPrix.contains))
  }
}
