package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the bench line contract and the per-query timing rule. A reader
 * keeps only the LAST 2000 stdout bytes, so the line must (a) always fit
 * the 1995-byte budget, even for a stall-heavy battery, and (b) order keys
 * so that if a line ever did overflow, truncation eats query detail, not
 * the total: "queries" first, health keys after, "value" last.
 */
class BenchRenderSpec extends AnyFunSuite {
  import Bench.Timing

  // strict JSON validation via Spark's bundled jackson
  private def parseable(s: String): Boolean =
    try {
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      mapper.readTree(s) != null
    } catch { case _: Throwable => false }

  private def clean(sec: Double) = Timing(Seq(sec, sec, sec), 0)
  // runs that never agreed: health 4, uncorroborated after all retries
  private def stalledT(sec: Double) = Timing(Seq(sec, 4 * sec, 4 * sec), Bench.MaxRetries)
  private val failedT = Timing(Nil, 0)

  private def mkBattery(n: Int, sec: Double): Seq[(String, Timing)] =
    (1 to n).map(i => f"q_synthetic_query_name_$i%03d" -> clean(sec))

  /** A run thunk that replays `script` (NaN = the run throws) and counts
    * its calls.
    */
  private class Scripted(script: Double*) extends (() => Double) {
    private val it = script.iterator
    var calls = 0
    def apply(): Double = {
      calls += 1
      val t = it.next()
      if (t.isNaN) throw new RuntimeException("scripted failure") else t
    }
  }

  test("clean battery: fits budget, parses, value is the last key") {
    val line = Bench.render(mkBattery(190, 0.1), "sf0.1",
      idxBuild = Seq("ivf" -> 2.8, "pq" -> 1.9))
    assert(line.length <= 1995, s"len=${line.length}")
    assert(parseable(line))
    assert(line.endsWith("}"))
    // value is the FINAL key — survives any front-truncation
    assert("\"value\":[0-9.]+\\}$".r.findFirstIn(line).isDefined, line.takeRight(60))
    // queries precede the health keys
    assert(line.indexOf("\"queries\":") < line.indexOf("\"stall\":"))
    assert(line.indexOf("\"queries\":") < line.indexOf("\"ib\":"))
  }

  test("stall-heavy battery (every query slow + long stalled list) still fits and keeps health keys") {
    // 200 queries all at 1.7 s — nothing under any fixed elide threshold
    // below 1.7, so a fixed-0.35 fallback would emit ~200 entries (>4 kB)
    // and overflow; 40 of them stalled, one failed
    val battery = mkBattery(200, 1.7).zipWithIndex.map { case ((n, t), i) =>
      n -> (if (i < 40) stalledT(1.7) else t)
    } :+ ("q_synthetic_query_name_201" -> failedT)
    val line = Bench.render(battery, "sf0.1",
      idxBuild = (1 to 25).map(i => s"ib$i" -> 9.9))
    assert(line.length <= 1995, s"len=${line.length}")
    assert(parseable(line))
    for (k <- Seq("\"stall\":", "\"nstall\":", "\"nretry\":", "\"stalled\":",
        "\"err\":", "\"value\":"))
      assert(line.contains(k), s"missing $k in ${line.takeRight(400)}")
    // the last 120 bytes alone carry the total (tail-window survivability
    // even under a hypothetical overflow)
    val tail = line.takeRight(120)
    assert(tail.contains("\"value\":"))
  }

  test("pathological floor: every query stalled AND failed — counts replace name lists, line still parses") {
    val battery = (1 to 300).flatMap { i =>
      Seq(f"q_synthetic_query_name_$i%03d" -> stalledT(2.0),
        f"q_synthetic_failed_query_$i%03d" -> failedT)
    }
    val line = Bench.render(battery, "sf0.1",
      idxBuild = (1 to 25).map(i => s"ib$i" -> 9.9))
    assert(line.length <= 1995, s"len=${line.length}")
    assert(parseable(line))
    assert(line.contains("\"value\":"))
    assert(line.contains("\"stall\":"))
    assert(line.contains("\"nstalled\":300"), line)
    assert(line.contains("\"nerr\":300"), line)
  }

  test("sf key survives every shrink level (ADVICE r12)") {
    // force deep elide levels with a huge stall-heavy battery and check the
    // chosen line still carries sf
    val battery = mkBattery(300, 1.7).zipWithIndex.map { case ((n, t), i) =>
      n -> (if (i < 60) stalledT(1.7) else t)
    }
    val line = Bench.render(battery, "sf0.1",
      idxBuild = (1 to 25).map(i => s"ib$i" -> 9.9))
    assert(line.length <= 1995)
    assert(parseable(line))
    assert(line.contains("\"sf\":\"sf0.1\""), line.takeRight(300))
  }

  test("measure: min of three runs, no retry when the runs agree or the min is corroborated") {
    val agree = new Scripted(1.2, 1.0, 1.1)
    assert(Bench.measure("q_a")(agree) == Timing(Seq(1.0, 1.1, 1.2), 0))
    assert(agree.calls == Bench.Runs)
    // one stalled run past 3× does not matter once a second run corroborates
    val oneStall = new Scripted(1.0, 9.0, 1.3)
    val t = Bench.measure("q_b")(oneStall)
    assert(oneStall.calls == 3 && t.min == 1.0 && t.retries == 0)
    assert(t.health == 1.3 && !t.stalled)
  }

  test("measure: the stall healer re-runs an uncorroborated min until a run agrees, at most MaxRetries times") {
    // runs disagree 6× and the min stands alone: one retry corroborates it
    val healed = new Scripted(1.0, 5.0, 6.0, 1.2)
    val t = Bench.measure("q_c")(healed)
    assert(healed.calls == 4)
    assert(t == Timing(Seq(1.0, 1.2, 5.0, 6.0), 1))
    assert(t.health == 1.2 && !t.stalled)
    // a retry may also beat the min: the min still ships
    val faster = new Scripted(2.0, 7.0, 8.0, 0.5, 0.6)
    val f = Bench.measure("q_d")(faster)
    assert(faster.calls == 5 && f.min == 0.5 && f.retries == 2)
    // never corroborated: MaxRetries extra runs, then filed as stalled
    val never = new Scripted(1.0, 5.0, 6.0, 7.0, 8.0, 9.0, 10.0)
    val s = Bench.measure("q_e")(never)
    assert(never.calls == Bench.Runs + Bench.MaxRetries)
    assert(s.retries == Bench.MaxRetries && s.min == 1.0 && s.stalled)
  }

  test("measure: a query whose every run throws goes to err, not into queries or value") {
    val broken = new Scripted(Double.NaN, Double.NaN, Double.NaN)
    val b = Bench.measure("q_broken")(broken)
    assert(b.failed && broken.calls == Bench.Runs) // no healer retries
    // a run that throws is dropped; the other runs still make the min
    val flaky = new Scripted(Double.NaN, 2.0, Double.NaN)
    assert(Bench.measure("q_flaky")(flaky) == Timing(Seq(2.0), 0))
    val line = Bench.render(Seq("q_broken" -> b, "q_ok" -> clean(1.25),
      "q_slow" -> stalledT(0.5)), "sf0.01", idxBuild = Nil)
    assert(parseable(line), line)
    assert(line.contains("\"err\":[\"q_broken\"]"), line)
    assert(line.contains("\"stalled\":[\"q_slow\"]"), line)
    assert(line.contains("\"queries\":{\"q_ok\":1.25,\"q_slow\":0.5}"), line)
    assert(line.contains("\"nstall\":1,\"nretry\":1,"), line)
    assert(line.endsWith("\"value\":1.75}"), line)
  }
}
