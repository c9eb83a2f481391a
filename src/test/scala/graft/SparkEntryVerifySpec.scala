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
}
