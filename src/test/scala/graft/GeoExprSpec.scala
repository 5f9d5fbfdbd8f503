package graft

import org.apache.spark.sql.functions._

/** The native haversine expression vs the UDF surface: same formula
  * object, so results must be BIT-identical, and the native path must
  * stay inside whole-stage codegen (the UDF provably cannot). */
class GeoExprSpec extends SparkSpec {

  test("native haversine_km is bit-identical to the UDF path") {
    val viaUdf = operators.Geo.geoHaversine(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    val viaNative = operators.Geo.geoDistNative(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(viaUdf.sameElements(viaNative),
      "UDF and native expression paths diverged")
  }

  test("native path code-generates; the UDF path wraps a closure") {
    val native = operators.Geo.geoDistNative(spark, sf0001)
    native.collect()
    val np = native.queryExecution.executedPlan.toString
    assert(np.contains("haversine_km"), s"native fn missing from plan:\n$np")
    assert(!np.contains("UDF"), s"native path fell back to a UDF:\n$np")
    val udf = operators.Geo.geoHaversine(spark, sf0001)
    udf.collect()
    assert(udf.queryExecution.executedPlan.toString.contains("UDF"),
      "q_geo_haversine must keep the declared UDF surface")
  }

  test("null and edge inputs: identity distance 0, antipodal ~ half circumference") {
    val r = spark.sql(
      """SELECT haversine_km(43.65d, -79.38d, 43.65d, -79.38d) AS zero,
        |       haversine_km(0d, 0d, 0d, 180d) AS anti,
        |       haversine_km(CAST(NULL AS DOUBLE), 0d, 0d, 0d) AS nul""".stripMargin)
      .head()
    assert(r.getDouble(0) == 0.0)
    assert(math.abs(r.getDouble(1) - math.Pi * 6371.0088) < 1e-6)
    assert(r.isNullAt(2), "null input must yield null, not NaN")
  }
}
