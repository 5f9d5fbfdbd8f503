package graft

import org.apache.spark.sql.functions._

/** Pins for the round-16 codegen'd pair generator: packed_pairs must be
  * element-for-element identical (values AND order) to the
  * nested-transform SQL formulation it replaced in Analytics.orderPairs,
  * on the real basket shapes and on edge cases (empty / singleton
  * arrays), and the declared co-purchase top-20 must be unchanged. */
class PackedPairsSpec extends SparkSpec {

  private val sqlForm =
    "flatten(transform(ps, (x, i) -> " +
      "transform(slice(ps, i + 2, size(ps)), y -> x * 2147483648L + y)))"

  test("packed_pairs equals the nested-transform SQL on the fixture baskets") {
    val ps = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    val both = ps.select(col("l_orderkey"),
        expr("packed_pairs(ps)").as("a"), expr(sqlForm).as("b"))
      .collect()
    assert(both.nonEmpty)
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2),
        s"order ${r.getLong(0)}: packed_pairs diverged from the SQL form")
    }
  }

  test("packed_pairs handles empty and singleton arrays") {
    import spark.implicits._
    val rows = Seq(Seq.empty[Long], Seq(7L), Seq(1L, 2L), Seq(3L, 5L, 9L))
      .toDF("ps")
      .select(expr("packed_pairs(ps)").as("a"), expr(sqlForm).as("b"))
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
    }
    assert(rows(0).getSeq[Long](0).isEmpty)
    assert(rows(1).getSeq[Long](0).isEmpty)
    assert(rows(2).getSeq[Long](0) == Seq(1L * 2147483648L + 2L))
  }

  test("q_basket_pairs top-20 is unchanged by the codegen pair generator") {
    val got = SparkEntry.queries("q_basket_pairs")(spark, sf0001)
      .collect().map(_.toSeq).toSeq
    // the derivation below replays the pre-round-16 plan end to end
    val ps = Tables.lineitem(spark, sf0001)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("ps"))
    val want = ps.select(explode(expr(sqlForm)).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("sup"))
      .orderBy(col("sup").desc, col("pk").asc)
      .limit(20)
      .select(expr("pk div 2147483648L").as("a_part"),
        expr("pk % 2147483648L").as("b_part"), col("sup").as("support"))
      .collect().map(_.toSeq).toSeq
    assert(got == want)
  }
}
