package graft

import org.apache.spark.sql.functions._

/** The RangeJoinRewrite optimizer rule: a natural `abs(a-b) <= w` theta
  * join must plan as a bucketed equi-join (no nested loop) and return
  * exactly the naive join's rows. The naive side runs in a new session,
  * which starts without the rule; the rewritten side in a new session
  * given the engine's extensions by [[GraftExtensions.install]]. */
class RangeJoinRewriteSpec extends SparkSpec {

  private lazy val naive = spark.newSession()
  private lazy val ruled = {
    val s = spark.newSession()
    GraftExtensions.install(s)
    s
  }

  /** The events view, registered in both sessions (views are session-local). */
  private def rangeSql = {
    Seq(naive, ruled).foreach(s => Tables.events(s, sf0001)
      .withColumn("us", expr("unix_micros(ts)"))
      .createOrReplaceTempView("ev_rj"))
    """SELECT e.event_id, count(*) AS n
      |FROM (SELECT * FROM ev_rj WHERE event_type = 'error') e
      |JOIN ev_rj a ON abs(a.us - e.us) <= 60000000
      |GROUP BY e.event_id
      |ORDER BY e.event_id""".stripMargin
  }

  test("rewrites the natural abs-range join to a bucketed equi-join") {
    val sql = rangeSql
    val want = naive.sql(sql).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val df = ruled.sql(sql)
    val rows = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plan = df.queryExecution.executedPlan.toString
    assert(rows == want, "rewrite changed the join's semantics")
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"rule did not eliminate the nested loop:\n$plan")
    assert(plan.contains("__rj_bucket_l"), s"bucket key missing from plan:\n$plan")
  }

  test("property: rewritten join equals naive for random values and widths") {
    // deterministic pseudo-random micro-corpora (fixed seed), incl.
    // NEGATIVE values — the floor-division bucketing must agree across
    // zero (a truncating div would not)
    val rnd = new scala.util.Random(42)
    for (trial <- 1 to 4) {
      val w = Seq(1L, 3L, 10L, 1000L)(trial - 1)
      val vals = Seq.fill(60)(rnd.nextLong() % (w * 7) - w * 3)
      val l = vals.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      val r = vals.reverse.zipWithIndex.map { case (v, i) => (i.toLong + 1000, v + rnd.nextInt(3) - 1) }
      Seq(naive, ruled).foreach { s =>
        s.createDataFrame(l).toDF("lid", "lv").createOrReplaceTempView("rj_l")
        s.createDataFrame(r).toDF("rid", "rv").createOrReplaceTempView("rj_r")
      }
      val sql = s"SELECT lid, rid FROM rj_l JOIN rj_r ON abs(lv - rv) <= $w"
      val want = naive.sql(sql).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      val df = ruled.sql(sql)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("__rj_bucket_l"), s"rule did not fire (w=$w)")
      val rewritten = df.collect().map(x => (x.getLong(0), x.getLong(1))).toSet
      assert(rewritten == want, s"mismatch at w=$w")
    }
  }

  test("leaves equi-keyed and non-matching joins untouched") {
    val equiSql =
      """SELECT count(*) AS n
        |FROM ev_rj e JOIN ev_rj a
        |  ON e.user_id = a.user_id AND abs(a.us - e.us) <= 60000000""".stripMargin
    rangeSql // ensure the views exist
    val without = naive.sql(equiSql).head().getLong(0)
    val df = ruled.sql(equiSql)
    val n = df.head().getLong(0)
    val plan = df.queryExecution.executedPlan.toString
    assert(n == without)
    assert(!plan.contains("__rj_bucket_l"),
      "rule fired on a join that already has an equi key")
  }
}
