package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.scalatest.funsuite.AnyFunSuite

import graft.Bench.{Coload, LegRecord, RowResult}
import graft.operators.AnnRecall.{NprobePoint, OrAmpPoint, RefinePoint, StructuredReport}

/** Bench's two records as a function of their inputs: the full record
  * and the summary line the driver parses from a 2000-char stdout
  * tail. Both must parse, a designed skip (NaN) must read as null, and
  * the summary must stay under its limit by dropping `recall`, then
  * `worst5` — the contract whose breach lost the r15–r17 records. */
class BenchRecordSpec extends AnyFunSuite {

  private val oddName = "t_we\"ird\tname"

  private def record(extraRows: Seq[RowResult] = Nil,
      recall: Seq[(String, Double)] = Seq("sim_ann_lsh" -> 0.8)) =
    LegRecord(
      rows = Seq(RowResult("q1_pricing_summary", 1.25, 1, 0.0),
        RowResult("sim_skipped", Double.NaN, 1, 0.0),
        RowResult("er_failed", -1.0, 1, 0.2),
        RowResult(oddName, 2.5, 3, 0.0)) ++ extraRows,
      calibSec = 4.0, calibEndSec = 4.5, calibMid = Seq("sim" -> 0.5),
      calibMidLimit = 2.0, historyTrips = Seq(("er_failed", 3.2, 0.4)),
      coload = Coload(1.0, 0.01, 0.5, 0.002, 0.0, 1.5, 2.5, 1, false),
      recall = recall,
      structured = Some("/fixture" -> StructuredReport(
        Seq("sim_ivfpq_topk" -> 0.76), 0.01, 16,
        Seq(NprobePoint(1, 0.0625, Double.NaN)), 32, Nil, 16, Nil,
        Seq(OrAmpPoint(16, 6, 32000L, 900L, 0.84)),
        Seq(RefinePoint(4, 2, 0.125, 0.9)))),
      profiles = Map.empty, prevQueries = Set("q1_pricing_summary"),
      fullPath = "bench_full.json", sfDir = "/data/sf0.01")

  private def parse(s: String): JsonNode = Json.mapper.readTree(s)
  private def keys(n: JsonNode): Seq[String] = n.fieldNames.asScala.toSeq

  test("full record parses with today's keys, 3-decimal doubles and null for NaN") {
    val text = record().full
    val full = parse(text)
    assert(keys(full) === Seq("metric", "value", "unit", "queries", "reps",
      "row_steal", "skipped", "errors", "calib_sec", "calib_end_sec",
      "calib_mid", "calib_mid_limit", "history_trips", "coload", "recall",
      "recall_structured", "profile", "comparable_total", "comparable_n",
      "sf"))
    assert(full.get("queries").get("sim_skipped").isNull)
    assert(full.get("queries").get(oddName).asDouble === 2.5)
    assert(full.get("queries").get("er_failed").asDouble === -1.0)
    assert(keys(full.get("row_steal")) === Seq("er_failed"))
    assert(full.get("skipped").get(0).asText === "sim_skipped")
    assert(full.get("errors").get(0).asText === "er_failed")
    // measured rows only (1.25 + 2.5), written the way %.3f wrote it
    assert(text.contains("\"value\":3.750,"), text)
    assert(text.contains("\"calib_sec\":4.000,"), text)
    assert(full.get("comparable_n").asInt === 1)
    assert(keys(full.get("coload")) === Seq("other_jvm_cpu_sec", "frac",
      "steal_sec", "steal_frac", "iowait_sec", "load1_before",
      "load1_after", "rows_steal_flagged", "flagged"))
    assert(keys(full.get("history_trips").get(0)) ===
      Seq("row", "ratio", "probe_sec"))
    val st = full.get("recall_structured")
    assert(keys(st) === Seq("dir", "legs", "negctrl_ivfpq_trained", "nlist",
      "nprobe_curve", "alt_nlist", "alt_nprobe_curve", "ivf_nlist",
      "ivf_nprobe_curve", "lsh_or_amp", "refine_curve"))
    val point = st.get("nprobe_curve").get(0)
    assert(keys(point) === Seq("nprobe", "scan_frac", "recall"))
    assert(point.get("recall").isNull)
    assert(point.get("scan_frac").asDouble === 0.063)
    assert(keys(st.get("lsh_or_amp").get(0)) ===
      Seq("tables", "bits", "index_rows", "cand_pairs", "recall"))
    assert(keys(st.get("refine_curve").get(0)) ===
      Seq("k_factor", "nprobe", "scan_frac", "recall"))
  }

  test("a short summary keeps recall and worst5") {
    val text = record().summary
    val sum = parse(text)
    assert(keys(sum) === Seq("metric", "value", "unit", "n", "families",
      "worst5", "skipped", "errors", "calib_sec", "calib_end_sec",
      "calib_mid_max", "history_trips_n", "coload", "recall",
      "comparable_total", "comparable_n", "full", "sf"))
    assert(sum.get("n").asInt === 2)
    assert(keys(sum.get("worst5")) === Seq(oddName, "q1_pricing_summary"))
  }

  test("summary drops recall first, then worst5, and stays under its limit") {
    // a recall map too long for the line: only recall goes
    val manyLegs = (0 until 150).map(i => f"sim_leg_$i%03d" -> Double.NaN)
    val noRecall = record(recall = manyLegs)
    assert(noRecall.summary.length <= Bench.SummaryLimit)
    val s1 = parse(noRecall.summary)
    assert(!s1.has("recall") && s1.has("worst5"))
    assert(parse(noRecall.full).get("recall").size === 150)
    assert(parse(noRecall.full).get("recall").get("sim_leg_000").isNull)
    // worst rows whose names alone overflow the line: worst5 goes too
    val longRows = (0 until 5).map(i =>
      RowResult(s"x_${i}_" + "n" * 400, 10.0 + i, 1, 0.0))
    val lean = record(extraRows = longRows, recall = manyLegs)
    assert(lean.summary.length <= Bench.SummaryLimit)
    val s2 = parse(lean.summary)
    assert(!s2.has("recall") && !s2.has("worst5"))
    assert(s2.get("families").has("x"))
    assert(parse(lean.full).get("queries").size === 9)
  }
}
