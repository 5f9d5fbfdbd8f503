package graft

import org.apache.spark.sql.functions._

/** The codegen'd MinHashSigs expression must produce bit-identical
  * signatures to the declarative SQL-function formulation
  * (pmod(xxhash64(t), p) → affine-min per permutation). This is what
  * keeps the custom Expression honest: same hash (XXH64 seed 42), same
  * fold, same minima — just without the interpreted HOF or the shuffle. */
class MinhashParitySpec extends SparkSpec {

  test("minhash_sigs rejects non-INT perm counts with a real message") {
    import spark.implicits._
    val df = Seq(Seq("a b", "b c")).toDF("sh")
    val eLong = intercept[Exception] {
      df.selectExpr("minhash_sigs(sh, 32L)").collect()
    }
    assert(eLong.getMessage.contains("INT literal"), eLong.getMessage)
    val eCol = intercept[Exception] {
      df.selectExpr("minhash_sigs(sh, size(sh))").collect()
    }
    assert(eCol.getMessage.contains("foldable"), eCol.getMessage)
  }

  test("minhash_sigs equals the xxhash64/pmod SQL formulation") {
    val p = 2147483647L
    val nPerms = 8
    val docs = Tables.documents(spark, sf0001)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", expr(
        "array_distinct(CASE WHEN size(toks) >= 2 THEN " +
          "transform(sequence(1, size(toks) - 1), " +
          "i -> concat_ws(' ', slice(toks, i, 2))) " +
          "ELSE slice(toks, 1, 0) END)"))
      .filter(size(col("sh")) > 0)
    val sqlSig = (0 until nPerms).map { i =>
      val a = functions.MinHashParams.a(i)
      val b = functions.MinHashParams.b(i)
      s"array_min(transform(hs, h -> (h * ${a}L + ${b}L) % ${p}L))"
    }.mkString("array(", ", ", ")")
    val both = docs
      .withColumn("mh", expr(s"minhash_sigs(sh, $nPerms)"))
      .withColumn("hs", expr(s"transform(sh, t -> pmod(xxhash64(t), ${p}L))"))
      .withColumn("mh_sql", expr(sqlSig))
    assert(both.filter(not(col("mh") === col("mh_sql"))).count() == 0)
    // and the executed plan keeps the expression inside codegen
    val plan = {
      val df = both.select("mh"); df.collect()
      df.queryExecution.executedPlan.toString
    }
    assert(plan.contains("minhashsigs") || plan.contains("MinHashSigs") ||
      plan.contains("minhash_sigs"), s"expression missing from plan:\n$plan")
  }
}
