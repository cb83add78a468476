package graft

import org.scalatest.funsuite.AnyFunSuite

/** The driver's smoke contract: entry() returns rows; every queries() entry
  * has either an oracle or is explicitly approximate; query fns run at
  * sf0.001.
  */
class DriverContractSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("entry returns rows") {
    val df = SparkEntry.entry(spark)
    assert(df.count() > 0)
    assert(df.columns.toSet == Set("rank", "doc_id", "score"))
  }

  test("every query has an oracle") {
    // since r3 every driver query is oracle-checked — the approximate ops
    // (ANN variants, sketch, snippets, MLT) emit gate/recall rows instead
    // of skipping (the percentiles.rs tolerance-pinning pattern)
    val approximateOk = Set.empty[String]
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- approximateOk
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracles without query: $orphans")
  }

  test("Verify query selection: all, a named subset, or fail on unknown names") {
    val known = Seq("q_a", "q_b", "q_c")
    assert(Verify.selectQueries(None, known) == known)
    assert(Verify.selectQueries(Some(" q_c, q_a "), known) == Seq("q_a", "q_c"))
    val e = intercept[IllegalArgumentException](
      Verify.selectQueries(Some("q_a,q_typo,q_zz"), known))
    assert(e.getMessage.contains("q_typo") && e.getMessage.contains("q_zz"), e.getMessage)
  }

  test("all queries execute at sf0.001") {
    val dir = "/root/testdata/sf0.001"
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, dir).count()
      assert(n >= 0, name)
    }
  }
}
