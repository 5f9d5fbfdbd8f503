package graft

import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}

/** A declared query's plan must not depend on which queries ran before it
  * in the session. The queries that rely on the engine's extensions (the
  * range-join rule, the as-of strategy, the native functions) are built
  * first thing in a new session, and again after every lazily constructed
  * declared query; their canonicalized optimized plans must be equal. */
class PlanIndependenceSpec extends SparkSpec {

  private val probes = Seq("q_join_range_auto", "q_join_asof_native",
    "q_udaf_wavg_native", "q_geo_dist_native")

  test("extension-using plans do not depend on the queries built before them") {
    val s = spark.newSession()
    def build(): Seq[LogicalPlan] = probes.map(n =>
      SparkEntry.queries(n)(s, sf0001).queryExecution.optimizedPlan.canonicalized)
    val first = build()
    assert(first.head.find(_.isInstanceOf[Generate]).isDefined,
      s"range-join rule missing from the first query of a new session:\n${first.head}")
    for ((n, q) <- SparkEntry.queries.toSeq.sortBy(_._1)
        if !PlanQualitySpec.LazyExempt(n))
      q(s, sf0001)
    val again = build()
    probes.indices.foreach { i =>
      assert(first(i) == again(i),
        s"${probes(i)} planned differently after the other queries:\n" +
          s"${first(i)}\nvs\n${again(i)}")
    }
  }
}
