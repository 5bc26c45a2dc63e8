package graft

import org.scalatest.funsuite.AnyFunSuite

/** The streaming bench guard: probe/steal/history brackets around
  * every measured leg (the batch sweep's discipline ported in r16).
  * These specs pin the pieces a contaminated-record postmortem would
  * lean on: the history file parses to the rates the tripwire
  * compares against, the stamp JSON is valid and self-describing, and
  * the flag folds together exactly the probe/steal/trip conditions
  * the artifact notes claim it does. */
class StreamGuardSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark

  test("checked-in stream history parses to positive per-leg rates") {
    val h = StreamGuard.history
    val legs = StreamBench.legs.map(_.name)
    // the repo file must keep the tripwire armed for every leg...
    legs.foreach { k =>
      assert(h.get(k).exists(_ > 0), s"missing/zero history for $k")
    }
    // ...and hold no rate that no leg can ever be checked against
    assert(h.keySet.subsetOf(legs.toSet),
      s"history names no leg: ${h.keySet -- legs}")
  }

  test("history parser is scoped to the rates object") {
    // a numeric metadata field OUTSIDE "rates" must not become a
    // phantom leg entry (the r16 ADVICE low: the old whole-file regex
    // would have read "round": 17 as a leg named round)
    val txt =
      """{"source": "spec", "round": 17,
        |"rates": {"micro_1k": 86891, "er_stream": 244500},
        |"epilogue_count": 3}""".stripMargin
    val m = StreamGuard.parseRates(txt)
    assert(m == Map("micro_1k" -> 86891.0, "er_stream" -> 244500.0), m)
  }

  test("batch tripwire ratio: 1.4x band starts at 10 s history") {
    // r16 shipped an unflagged ~2x regression on a 13 s-history row
    // because [10 s, 30 s) rows only tripped at 3x — the band now
    // starts at 10 s (VERDICT r16 ask #2)
    assert(Bench.tripRatioFor(5.0) == 3.0)
    assert(Bench.tripRatioFor(9.99) == 3.0)
    assert(Bench.tripRatioFor(10.0) == 1.4)
    assert(Bench.tripRatioFor(13.26) == 1.4) // layout_bucketed_join sf10
    assert(Bench.tripRatioFor(300.0) == 1.4)
  }

  test("guarded run returns the result and a well-formed stamp") {
    val ((r, stamp), _) = (StreamGuard.guarded(spark, "spec_leg") {
      42
    }(_ => 1e9), ())
    assert(r == 42)
    assert(stamp.name == "spec_leg")
    // 1e9 rows/s has no history entry: ratio 0, no trip probe ran
    assert(stamp.historyRps == 0.0 && stamp.tripProbeSec == -1.0)
    assert(stamp.probeStartSec > 0 && stamp.probeEndSec > 0)
    // the stamp's JSON parses back and carries the flag verbatim
    val j = Json.mapper.readTree(Json.mapper.writeValueAsString(stamp))
    assert(j.get("name").asText == "spec_leg", j)
    assert(j.get("flagged").isBoolean &&
      j.get("flagged").asBoolean == stamp.flagged, j)
  }

  test("a leg far under its history fires the trip probe") {
    // micro_1k has a real history entry; 1 row/s is < history/1.4, so
    // the guard must run the immediate arbitration probe (recorded in
    // trip_probe_sec) regardless of whether the box reads hot
    val (_, stamp) = StreamGuard.guarded(spark, "micro_1k") {
      ()
    }(_ => 1.0)
    assert(stamp.historyRps > 0)
    assert(stamp.tripProbeSec >= 0.0,
      s"trip probe did not run: $stamp")
    // flag semantics: a clean trip probe alone must NOT flag the leg
    if (stamp.probeStartSec <= stamp.probeLimit &&
        stamp.probeEndSec <= stamp.probeLimit &&
        stamp.tripProbeSec <= stamp.probeLimit &&
        stamp.stealFrac <= 0.05)
      assert(!stamp.flagged, s"clean probes but flagged: $stamp")
  }

  test("a probe limit env var defaults when unset and reads a valid value") {
    val v = "SPARK_GRAFT_STREAM_PROBE_LIMIT"
    assert(StreamGuard.limitFromEnv(v, 2.0, Map.empty) == 2.0)
    assert(StreamGuard.limitFromEnv(v, 2.0, Map(v -> "3.5")) == 3.5)
  }

  // NaN compares false against every probe and "abc" used to throw a
  // NumberFormatException naming no variable: either way a guard could
  // switch itself off, so a bad limit must fail and say which one
  Seq("abc", "NaN", "0").foreach { bad =>
    test(s"probe limit '$bad' fails naming the variable") {
      val e = intercept[IllegalArgumentException] {
        StreamGuard.limitFromEnv("SPARK_GRAFT_CALIB_LIMIT", 10.0,
          Map("SPARK_GRAFT_CALIB_LIMIT" -> bad))
      }
      assert(e.getMessage.contains("SPARK_GRAFT_CALIB_LIMIT") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
  }

  test("a corpus-free leg runs and records through the bench path") {
    val out = java.nio.file.Files.createTempDirectory("stream-bench-spec")
    val leg = StreamBench.select("micro_1k").head
    StreamBench.runLeg(spark, leg, seconds = 8, out.toString)
    val j = Json.readFile(out.resolve("micro_1k.json").toString)
    assert(j.get("result").get("batches").asInt > 0, j)
    assert(j.get("guard").get("name").asText == "micro_1k", j)
    assert(j.get("config").get("state_bytes").asInt == 1024, j)
  }
}
