package graft

import org.apache.spark.sql.functions._

/** Pins for the codegen lg_micro expression and its entropy twin:
  * bit-parity with the table-join formulation on the join's whole
  * domain, agreement with the spec-side IntLg replica across
  * magnitudes, and the plan payoff (the ln-table joins are gone).
  */
class LgNativeSpec extends SparkSpec {

  test("lg_micro: bit-parity with IntLg across magnitudes and seams") {
    val ns = ((1L to 300L) ++
      (1 to 40).flatMap(k => Seq((1L << k) - 1, 1L << k, (1L << k) + 1)) ++
      Seq(999999L, 123456789L, 987654321987L)).distinct.sorted
    import spark.implicits._
    val got = ns.toDF("n").selectExpr("n", "lg_micro(n) AS lm")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    got.foreach { case (n, lm) =>
      assert(lm == IntLg.lg(n), s"lg_micro($n) = $lm, expected ${IntLg.lg(n)}")
    }
  }

  test("lg_micro: total on non-positive input (contract: 0)") {
    import spark.implicits._
    val r = Seq(0L, -5L).toDF("n").selectExpr("lg_micro(n) AS lm")
      .collect().map(_.getLong(0)).toSeq
    assert(r == Seq(0L, 0L))
  }

  test("entropy native twin: row-for-row parity with the join formulation") {
    val a = operators.Text.textEntropy(spark, sf0001).collect().toSeq
    val b = operators.Text.textEntropyNative(spark, sf0001).collect().toSeq
    assert(a == b)
  }

  test("entropy native twin: the ln-table joins are gone from the plan") {
    def nJoins(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
      }.length
    val orig = nJoins(operators.Text.textEntropy(spark, sf0001))
    val native = nJoins(operators.Text.textEntropyNative(spark, sf0001))
    assert(native == orig - 2,
      s"expected the 2 ln-table joins gone: orig $orig, native $native")
    val df = operators.Text.textEntropyNative(spark, sf0001)
    df.collect() // finalize the adaptive plan before inspecting codegen
    val p = df.queryExecution.executedPlan.toString
    // the tree string renders WholeStageCodegen stages as "*(n)" prefixes
    assert(p.contains("*("), s"codegen lost:\n$p")
  }
}
