package graft

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.{GraftSession, Measure}

/** Pins for the sf1 bench verdict machinery (Bench.scala), the part of
  * the artifact a judge adjudicates without re-running anything. Round 15
  * published two FALSE `regressed` stamps (d03, d05) because sustained
  * external contention inflates task time too; these tests pin the
  * round-16 contract:
  *
  *  - a planted regression on a QUIET machine still stamps `regressed`;
  *  - the same observation under measured external contention stamps
  *    `suspect_load`, never `regressed`;
  *  - the re-time trigger is band-relative, so sub-3 s banded entries
  *    (d30, band 1.0 s) get a second observation too;
  *  - headline selection considers SUCCESSFUL runs only, and an entry is
  *    a failure only when no run succeeded (round-16 ADVICE: a throwing
  *    retry must not discard a positive first measurement);
  *  - the artifact's shape: the key paths of bench_out.json and of the
  *    compact stdout line, and the line's 2000-char budget.
  */
class BenchSpec extends AnyFunSuite {

  private val cpus = 32
  // a real banded entry so the tests exercise the production map
  private val banded = "d03_dedup_minhash"
  private val (bandWall, bandTask) = Bench.sf1Bands(banded)

  test("in-band wall stamps in_band regardless of load") {
    val e = Bench.Sf1Entry(banded, bandWall, 0L, bandTask, Seq(bandWall), extCores = 30.0)
    assert(Bench.sf1Verdict(e, cpus) == "in_band")
  }

  test("wall out, task in band stamps load_inflated") {
    val e = Bench.Sf1Entry(banded, 3 * bandWall, 0L, bandTask, Seq(3 * bandWall), extCores = 0.0)
    assert(Bench.sf1Verdict(e, cpus) == "load_inflated")
  }

  test("planted regression on a quiet machine stamps regressed") {
    // both wall and task 2x the band, zero external CPU demand — the
    // unpersist-d03's-signature-frame scenario the verdict must catch
    val e = Bench.Sf1Entry(banded, 2 * bandWall, 0L, 2 * bandTask,
      Seq(2 * bandWall), extCores = 0.0)
    assert(Bench.sf1Verdict(e, cpus) == "regressed")
  }

  test("same observation under external contention stamps suspect_load") {
    // the round-15 false-alarm scenario: another tenant holding 20+ cores
    val e = Bench.Sf1Entry(banded, 2 * bandWall, 0L, 2 * bandTask,
      Seq(2 * bandWall), extCores = 20.0)
    assert(Bench.sf1Verdict(e, cpus) == "suspect_load")
  }

  test("unavailable contention signal keeps the strict stamp") {
    val e = Bench.Sf1Entry(banded, 2 * bandWall, 0L, 2 * bandTask,
      Seq(2 * bandWall), extCores = -1.0)
    assert(Bench.sf1Verdict(e, cpus) == "regressed")
  }

  test("failed entry stamps failed; unbanded stamps no_band") {
    val f = Bench.Sf1Entry(banded, -1.0, 0L, 0L, Seq(-1.0), extCores = 0.0)
    assert(Bench.sf1Verdict(f, cpus) == "failed")
    val u = Bench.Sf1Entry("zz_not_a_real_entry", 1.0, 0L, 1000L, Seq(1.0), 0.0)
    assert(Bench.sf1Verdict(u, cpus) == "no_band")
  }

  test("re-time trigger is band-relative, with 3 s absolute only for unbanded") {
    // d30's band is 1.0 s: a 1.8 s first wall (r15's load-inflated
    // observation) must now earn a second observation
    val (d30Wall, _) = Bench.sf1Bands("d30_minhash_error")
    assert(d30Wall == 1.0)
    assert(Bench.needsRetime("d30_minhash_error", 1.8))
    assert(!Bench.needsRetime("d30_minhash_error", 1.4))
    // a banded entry inside 1.5x its band never re-times, even over 3 s
    val (d05Wall, _) = Bench.sf1Bands("d05_ngram_jaccard")
    assert(!Bench.needsRetime("d05_ngram_jaccard", 1.4 * d05Wall))
    assert(Bench.needsRetime("d05_ngram_jaccard", 1.6 * d05Wall))
    // unbanded entries keep the absolute rule
    assert(Bench.needsRetime("zz_not_a_real_entry", 3.5))
    assert(!Bench.needsRetime("zz_not_a_real_entry", 2.5))
  }

  test("selectSf1 picks the best SUCCESSFUL run; a failed retry is not a failure") {
    val good = Measure(wallS = 5.0, gcMs = 10L, taskMs = 1000L, extCores = 0.0)
    val badRetry = Measure(wallS = 0.3, gcMs = 2L, taskMs = 50L, extCores = 0.0,
      error = Some("boom"))
    val (e, allFailed) = Bench.selectSf1("x", Seq(good, badRetry))
    assert(!allFailed)
    assert(e.wall == 5.0)
    assert(e.walls == Seq(5.0)) // walls report successful runs only
    assert(e.taskMs == 1000L)
  }

  test("selectSf1 min among successes when both succeed") {
    val a = Measure(wallS = 5.0, gcMs = 10L, taskMs = 1000L, extCores = 4.0)
    val b = Measure(wallS = 3.0, gcMs = 8L, taskMs = 800L, extCores = 1.0)
    val (e, allFailed) = Bench.selectSf1("x", Seq(a, b))
    assert(!allFailed)
    assert(e.wall == 3.0 && e.taskMs == 800L && e.extCores == 1.0)
    assert(e.walls == Seq(5.0, 3.0))
  }

  test("selectSf1 reports failure only when no run succeeded") {
    val bad = Measure(wallS = 0.3, gcMs = 2L, taskMs = 50L, extCores = 0.0,
      error = Some("boom"))
    val (e, allFailed) = Bench.selectSf1("x", Seq(bad))
    assert(allFailed)
    assert(e.wall == -1.0 && e.walls == Seq(-1.0))
  }

  test("heavyCoverageGaps fires on a non-member heavier than 1.5x the slowest member") {
    val heavy = Seq("d22_keep_best", "d35_ivfpq_curve")
    val walls = Seq(
      "d22_keep_best" -> 2.5, "d35_ivfpq_curve" -> 4.0,
      "new_heavy_entry" -> 6.5, // > 4.0 * 1.5 — the silent miss the audit exists for
      "x13_dedup_closed_split" -> 2.4, // heavy-ish but under the margin
      "y06_stream_interval_outer" -> 11.5, // y-family: excluded by design
      "broken_entry" -> -1.0)
    assert(Bench.heavyCoverageGaps(walls, heavy) == Seq("new_heavy_entry"))
  }

  test("heavyCoverageGaps is quiet when every heavy entry is a member") {
    val heavy = Seq("a", "b")
    assert(Bench.heavyCoverageGaps(
      Seq("a" -> 3.0, "b" -> 2.0, "c" -> 4.4, "y01_x" -> 9.0), heavy).isEmpty)
    // no member measured (all failed) => nothing comparable, no gaps
    assert(Bench.heavyCoverageGaps(Seq("a" -> -1.0, "c" -> 9.0), heavy).isEmpty)
  }

  test("a throwing section records its label and the next section still runs") {
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    val first = Bench.section("sf1:section", failed)(throw new IllegalStateException("boom"))
    val second = Bench.section("cbo:base", failed)(42)
    assert(first.isEmpty && second.contains(42))
    assert(failed.toSeq == Seq("sf1:section"))
  }

  test("a fatal throwable propagates out of a section") {
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    intercept[OutOfMemoryError](Bench.section("sf10:section", failed)(
      throw new OutOfMemoryError("fatal")))
    assert(failed.isEmpty)
  }

  test("every sf1Heavy, sf10Heavy and sf1Bands name is a registry entry") {
    (Bench.sf1Heavy ++ Bench.sf10Heavy ++ Bench.sf1Bands.keys).foreach(SparkEntry.named)
  }

  // ---- the artifact's shape, on a fully populated record

  private val shapeNames =
    Seq("simple_select", "join_2table", "join_3table", "scalar_subquery", "complex")
  private val cboOps = Seq("scan", "filter_range", "filter_eq", "join", "agg")

  private def shapeRun(name: String, opt: Double, gcMs: Long = 40L) = Bench.ShapeRun(name,
    Bench.ShapeConfig(opt, 21, "plan", gcMs, 21 * opt),
    Bench.ShapeConfig(opt * 9.7, 7, "plan", 12L, 70 * opt))

  private val fullRecord: Bench.BenchRecord = {
    val shapes = shapeNames.zipWithIndex.map { case (n, i) =>
      // join_2table's optimized loop is GC-bound, so it carries a note
      val gc = if (n == "join_2table") 9000L else 40L
      val (pre, post) = (shapeRun(n, 0.123 + i, gc), shapeRun(n, 0.2 + i, gc))
      if (i % 2 == 0) (pre, "pre-sweep", post) else (post, "post-sweep", pre)
    }
    // all heavy entries in band but two, so the line names its exceptions
    val sf1 = Bench.sf1Heavy.zipWithIndex.map { case (n, i) =>
      val (bw, bt) = Bench.sf1Bands(n)
      val w = if (i < 2) 3 * bw else bw * 0.9
      Bench.Sf1Entry(n, w, 120L, bt, Seq(w, w + 0.5), 0.4, 123456789L, 98765432L)
    }
    val cbo = Seq("base", "sf1").map(_ -> cboOps.map(op =>
      (op, BigInt(150000), 149000L, "<=5%", true)))
    Bench.record("/data/sf0.1", cpus,
      sweep = Seq("d03_dedup_minhash" -> Measure(wallS = 0.5, gcMs = 3L, taskMs = 40L),
        "q01_scan" -> Measure(wallS = 0.00001),
        "x99_broken" -> Measure(wallS = 0.2, error = Some("boom"))),
      twins = Seq("twin_d05_zipf_ppjoin" -> Measure(wallS = 1.5)),
      shapes = shapes,
      env = Bench.Env(8192L, 5400L, Seq(1.5, 30.25).map(BigDecimal(_).bigDecimal),
        Seq("new_heavy_entry"), "", Some("pre+post-sweep, per-shape best-evidenced")),
      setup = Bench.setupRecord(2345.6, Measure(wallS = 5.4, jobs = 41L),
        GraftSession.tableNames.map(GraftSession.Harvested(_, 12.5, Some(480.25)))),
      sf1 = Some(Bench.Sf1Result("/data/sf1", 12.5, sf1,
        shapeNames.map(shapeRun(_, 1.0)), Seq("d43_distributed" -> 0.92))),
      sf10 = Some(Bench.Sf10Result("/data/sf10", 300.0, Seq(Bench.Sf10Run("d05_ngram_jaccard",
        Measure(wallS = 40.0, taskMs = 900000L, shuffleReadB = 3L << 30,
          shuffleWriteB = 3L << 30, peakTaskMemB = 1L << 28), 31.0)))),
      cbo = cbo,
      failures = Seq("x99_broken"))
  }

  /** Leaf key paths of a JSON text, with array positions as `[]` and the
    * keys in `data` (entry, shape, op and verdict names) as `*`.
    */
  private def keyPaths(json: String, data: Set[String]): Set[String] = {
    def walk(n: JsonNode, p: String): Seq[String] =
      if (n.isObject && n.size > 0) n.properties.asScala.toSeq.flatMap { e =>
        walk(e.getValue, p + "." + (if (data(e.getKey)) "*" else e.getKey))
      }
      else if (n.isArray && n.size > 0) n.elements.asScala.toSeq.flatMap(walk(_, p + ".[]"))
      else Seq(p.drop(1))
    walk(new ObjectMapper().readTree(json), "").toSet
  }

  private val dataKeys = (shapeNames ++ cboOps ++ Bench.sf1Heavy ++ GraftSession.tableNames ++
    Seq("q01_scan", "x99_broken", "twin_d05_zipf_ppjoin", "d43_distributed", "in_band",
      "load_inflated")).toSet

  private def shapeKeys(p: String) = Seq("optimized", "naive", "speedup").map(p + "." + _)
  private def shapeFieldKeys(p: String) = shapeKeys(p) ++ Seq(p + ".samples.[]", p + ".gc_ms.[]")

  test("bench_out.json keeps the key paths of the string-built writer") {
    val expected = Seq("metric", "value", "unit", "queries.*", "query_gc_ms.*",
      "query_task_ms.*", "twins.*", "failures.[]", "env.heap_max_mb", "env.sweep_gc_ms",
      "env.load_avg.[]", "env.heavy_coverage_gaps.[]", "env.subset", "env.shapes_measured",
      "setup.build_ms", "setup.catalog_ms", "setup.jobs", "setup.tables.*.resolve_ms",
      "setup.tables.*.analyze_ms") ++
      shapeFieldKeys("baseline_shapes.*") ++
      Seq("verdict.claim", "verdict.status", "verdict.reason", "position", "note")
        .map("baseline_shapes.*." + _) ++
      shapeFieldKeys("baseline_shapes.*.pre_sweep") ++
      shapeFieldKeys("baseline_shapes.*.post_sweep") ++
      Seq("gen_s", "queries.*", "query_verdict.*.walls.[]", "query_verdict.*.band_wall",
        "query_verdict.*.band_task_ms", "query_verdict.*.ext_cores",
        "query_verdict.*.verdict", "ann_recall.*", "query_gc_ms.*", "query_task_ms.*",
        "query_shuffle_b.*.[]", "dir").map("sf1." + _) ++
      shapeFieldKeys("sf1.shapes.*") ++
      Seq("gen_s", "copies", "tables", "shuffle_partitions", "queries.*.wall_s",
        "queries.*.wall_warm_s", "queries.*.task_ms", "queries.*.shuffle_read_b",
        "queries.*.shuffle_write_b", "queries.*.peak_task_mem_b", "dir").map("sf10." + _) ++
      Seq("base", "sf1").flatMap(l =>
        Seq("est", "actual", "band", "ok").map(k => s"cbo_accuracy.$l.*.$k")) ++
      Seq("sf")
    assert(keyPaths(Bench.toJson(fullRecord), dataKeys) == expected.toSet)
  }

  test("compact line keeps the writer's key paths, fixed digits and 2000-char budget") {
    val line = Bench.toJson(Bench.compact(fullRecord, "bench_out.json"))
    assert(line.length <= 2000, s"${line.length} chars")
    val expected = Seq("metric", "value", "unit", "n_queries", "failures.[]",
      "env.heap_max_mb", "env.sweep_gc_ms", "env.load_avg.[]", "env.heavy_coverage_gaps.[]",
      "env.subset") ++ shapeKeys("baseline_shapes.*") ++
      Seq("gen_s", "queries.*", "query_verdict.counts.*", "query_verdict.exceptions.*",
        "ann_recall.*").map("sf1." + _) ++
      shapeKeys("sf1.shapes.*") ++ Seq("cbo.base.*.[]", "sf", "detail")
    assert(keyPaths(line, dataKeys) == expected.toSet)
    val node = new ObjectMapper().readTree(line)
    assert(node.get("n_queries").asInt == 3)
    assert(node.at("/sf1/query_verdict/counts/in_band").asInt == 15)
    // the sweep total over successful entries; fixed digits, never
    // exponent form
    assert(line.contains("\"value\":0.500,") && line.contains("\"speedup\":9.70"))
    val full = Bench.toJson(fullRecord)
    assert(full.contains("\"q01_scan\":0.000") && full.contains("\"gen_s\":300.0"))
    assert("""\d[eE][+-]?\d""".r.findFirstIn(full).isEmpty)
  }
}
