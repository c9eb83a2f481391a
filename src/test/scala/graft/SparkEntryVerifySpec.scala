package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SparkEntry's digest-verification queries run end to end at the
  * smallest scale: every turn verifies against its goldens, the
  * extracted-side feature counts prove the corpus carries the features,
  * and extract_turn is evaluated once per row (one occurrence in the
  * physical plan). The dir is only read for its scale; materialization is
  * skipped because graft.mat.dir is unset.
  */
class SparkEntryVerifySpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** query -> the extracted-feature counts that must be positive */
  private val cases = Seq(
    "q18_extract_verify" -> Seq.empty[String],
    "q32_dual_verify" -> Seq("n_dual_turns"),
    "q35_cross_verify" -> Seq("n_dual_turns", "n_rev_turns", "n_cont_turns"),
    "q38_pdf_lexer" -> Seq("n_pdf_turns"),
    "q40_pdf_modern" -> Seq("n_pdf_turns"))

  cases.foreach { case (name, features) =>
    test(s"$name: every turn verifies, features extracted, extract_turn once") {
      val df = SparkEntry.queries(name)(spark, "sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      assert("extract_turn".r.findAllIn(plan).length == 1, plan)
      val Array(row) = df.collect()
      val nTurns = row.getAs[Long]("n_turns")
      assert(nTurns > 0)
      assert(row.getAs[Long]("n_turns_ok") == nTurns, row)
      features.foreach(f => assert(row.getAs[Long](f) > 0, s"$f in $row"))
    }
  }

  test("Bench.timeQuery: a query that throws is timed and reported by its exception class") {
    val (secs, status) = Bench.timeQuery(spark, "sf0.001",
      (_, _) => throw new IllegalStateException("boom"))
    assert(status == "error:java.lang.IllegalStateException")
    assert(secs >= 0.0)
    // a failure while the count runs, not while the plan is built
    val (_, atRun) = Bench.timeQuery(spark, "sf0.001",
      (s, _) => s.range(3).toDF().filter("raise_error('boom') is null"))
    assert(atRun.startsWith("error:"), atRun)
    assert(Bench.timeQuery(spark, "sf0.001", (s, _) => s.range(3).toDF())._2 == "ok")
  }

  test("q36 digest: duplicated rows do not cancel out of the comparison") {
    import spark.implicits._
    val cols = Seq("conv_id", "turn_idx", "text")
    def rows(xs: (String, Int, String)*) = xs.toDF("conv_id", "turn_idx", "text")
    val a = ("c1", 0, "a"); val b = ("c1", 1, "b")
    val c = ("c2", 0, "c"); val d = ("c2", 1, "d")
    val abc = SparkEntry.rowDigest(rows(a, b, c), cols)
    assert(abc.getLong(0) == 3L, abc)
    assert(SparkEntry.rowDigest(rows(c, a, b), cols) == abc)
    assert(SparkEntry.rowDigest(rows(a, b, d), cols) != abc)
    // {a, b, c, c} and {a, b, d, d} share count and xor; the sum term
    // tells them apart
    val abcc = SparkEntry.rowDigest(rows(a, b, c, c), cols)
    val abdd = SparkEntry.rowDigest(rows(a, b, d, d), cols)
    assert(abcc.getLong(0) == abdd.getLong(0) && abcc.getLong(1) == abdd.getLong(1))
    assert(abcc != abdd, abcc)
  }

  test("q44 check: a snapshot with no files reads as (0, 0), a mismatch is named") {
    val aggs = Map(1L -> (10L, 2L))
    SparkEntry.requireFilesMatchSnapshots(Seq((1L, 10L, 2L), (2L, 0L, 0L)), aggs)
    val e = intercept[IllegalArgumentException](
      SparkEntry.requireFilesMatchSnapshots(Seq((1L, 10L, 2L), (2L, 5L, 1L)), aggs))
    assert(e.getMessage.contains("files table rows for snapshot 2 disagree"), e.getMessage)
    val f = intercept[IllegalArgumentException](
      SparkEntry.requireFilesMatchSnapshots(Seq((1L, 10L, 3L)), aggs))
    assert(f.getMessage.contains("files table count for snapshot 1 disagrees"), f.getMessage)
  }
}
