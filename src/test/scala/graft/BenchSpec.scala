package graft

import org.scalatest.funsuite.AnyFunSuite

/** The bench harness's self-adjudication logic (whole-sweep total rerun)
  * is decision code the recorded BENCH_rN.json depends on — pin its
  * parsing and trigger conditions against a literal bench_full.json shape.
  */
class BenchSpec extends AnyFunSuite {

  private val recorded =
    """{"metric":"total","value":219.928,"unit":"sec","queries":{
      |"q01_cast_enforce":0.388016844,"q02_validate_errors":0.291218162,
      |"q63_ann_ivf":0.599},"sf":"/root/testdata/sf0.1",
      |"rerun":{"q63_ann_ivf":{"sweep":2.19,"rerun":1.05,"prev":0.85}},
      |"sf_spot":{"q28_pipeline_silver":{"small":3.5,"big":4.8,"ratio":1.389}}}"""
      .stripMargin

  test("parseTimes reads exactly the per-query map, not rerun/spot nests") {
    val t = Bench.parseTimes(recorded)
    assert(t("q01_cast_enforce") == 0.388016844)
    assert(t("q02_validate_errors") == 0.291218162)
    assert(t("q63_ann_ivf") == 0.599)
    // the rerun/sf_spot nested objects must not leak entries (their values
    // open with '{', not a digit)
    assert(t.size == 3, t)
    assert(Bench.parseTimes("") == Map.empty)
  }

  test("parseTotal reads the recorded sweep total") {
    assert(Bench.parseTotal(recorded).contains(219.928))
    assert(Bench.parseTotal("").isEmpty)
  }

  test("totalDeviates fires on >5% common-set drift, in both directions, " +
      "and ignores queries absent from the baseline") {
    val prev = Map("q1" -> 10.0, "q2" -> 10.0)
    val total = Some(20.0)
    // +20% on the common set, plus a NEW query the baseline lacks — the
    // new query's 50 s must not poison the comparison
    assert(Bench.totalDeviates(prev, total,
      Seq("q1" -> 12.0, "q2" -> 12.0, "q_new" -> 50.0), narrowed = false))
    // -20% fires too (a suspiciously fast sweep is also worth a second look)
    assert(Bench.totalDeviates(prev, total,
      Seq("q1" -> 8.0, "q2" -> 8.0), narrowed = false))
    // within the band: no rerun
    assert(!Bench.totalDeviates(prev, total,
      Seq("q1" -> 10.2, "q2" -> 10.2, "q_new" -> 50.0), narrowed = false))
  }

  test("compactAnchor reduces a pretty-printed anchor file to one line " +
      "of head/n_queries/total_sec, dropping the prose note") {
    val pretty =
      """{
        | "head": "1322291",
        | "n_queries": 261,
        | "total_sec": 453.753,
        | "sweeps_sec": [
        |  453.753,
        |  469.875
        | ],
        | "note": "a very long multi-hundred-word prose note that must not
        |reach stdout because the driver's tail capture is finite"
        |}""".stripMargin
    val out = Bench.compactAnchor(pretty)
    assert(out ==
      ""","anchor":{"head":"1322291","n_queries":261,"total_sec":453.753}""")
    assert(!out.contains("\n"), "anchor extract must be single-line")
    assert(!out.contains("note"))
    // a malformed or empty file yields no anchor at all, never a fragment
    assert(Bench.compactAnchor("") == "")
    assert(Bench.compactAnchor("{\"head\":\"not-a-sha!\"}") == "")
    assert(Bench.compactAnchor("{\"head\":\"abc123\",\"n_queries\":5}") == "")
  }

  test("totalDeviates never fires for narrowed runs or an absent baseline") {
    val prev = Map("q1" -> 10.0)
    assert(!Bench.totalDeviates(prev, Some(10.0),
      Seq("q1" -> 99.0), narrowed = true))
    assert(!Bench.totalDeviates(Map.empty, Some(10.0),
      Seq("q1" -> 99.0), narrowed = false))
    assert(!Bench.totalDeviates(prev, None,
      Seq("q1" -> 99.0), narrowed = false))
  }

  test("a query that throws is reported as failed and left out of the total") {
    val spark = SparkSpec.spark
    val ok: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (s, _) => s.range(10).toDF()
    val boom: (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame =
      (_, _) => throw new IllegalStateException("boom")
    val runs = Seq("q_ok" -> ok, "q_boom" -> boom)
      .map { case (n, fn) => n -> Bench.once(spark, n, fn, "unused") }
    assert(runs.toMap.apply("q_boom").isEmpty, "a throwing query has no time")
    val sweep = Bench.Sweep.of(runs)
    assert(sweep.failed == Seq("q_boom"))
    assert(sweep.times.map(_._1) == Seq("q_ok"))
    assert(sweep.total == runs.toMap.apply("q_ok").get)
  }
}
