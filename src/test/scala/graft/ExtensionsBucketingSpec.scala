package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deployment-grade wiring: the [[GraftExtensions]] table (functions,
  * optimizer rule, planner strategy) on both of its install paths, and
  * bucketed co-located joins (the shuffle-free fact-fact join path a
  * 100 TB deployment would use). The extension tests build a second
  * SparkSession over the shared SparkContext (never stopping it — other
  * suites share the JVM). */
class ExtensionsBucketingSpec extends SparkSpec {

  /** One SQL call per function in the table, each with valid arguments. */
  private val calls = Seq(
    "vec_dot" -> "SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))",
    "lg_micro" -> "SELECT lg_micro(8L)",
    "haversine_km" -> "SELECT haversine_km(0D, 0D, 0D, 1D)",
    "simhash_sig" -> "SELECT simhash_sig(array('a b', 'b c'))",
    "packed_pairs" -> "SELECT packed_pairs(array(1L, 2L, 3L))",
    "lang_trigram_scores" -> "SELECT lang_trigram_scores('the quick brown fox')",
    "char_ngrams" -> "SELECT char_ngrams('hello', 2)",
    "minhash_sigs" -> "SELECT minhash_sigs(array('a b', 'b c'), 4)",
    "md5_minhash_sigs" -> "SELECT md5_minhash_sigs(array('a b', 'b c'), 4)",
    "wavg_cents" ->
      "SELECT wavg_cents(c, w) FROM VALUES (100L, 2L), (400L, 1L) AS t(c, w)",
    "wmedian_cents" ->
      "SELECT wmedian_cents(c, w) FROM VALUES (100L, 2L), (400L, 1L) AS t(c, w)")

  /** A session on the shared context built with the extensions hook.
    * spark.sql.extensions (the config route) is read only at SparkContext
    * creation; on the shared test context we exercise the same class
    * through the programmatic builder hook. */
  private def withExtensionsSession[T](f: SparkSession => T): T = {
    val shared = spark // materialize the shared session/context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder()
      .withExtensions(new GraftExtensions())
      .getOrCreate()) // new session instance on the existing context
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private def ruleCount(s: SparkSession) =
    s.sessionState.optimizer.batches.flatMap(_.rules).count(_ eq plans.RangeJoinRewrite)
  private def strategyCount(s: SparkSession) =
    s.sessionState.planner.strategies.count(_ eq plans.AsOfJoinStrategy)

  test("vec_dot is available via spark.sql.extensions injection") {
    withExtensionsSession { s =>
      val got = s.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d")
        .head().getDouble(0)
      assert(got == 11.0)
    }
  }

  test("the extensions hook installs every function, the rule and the strategy") {
    assert(calls.map(_._1).toSet ==
      GraftExtensions.Functions.map(_._1.funcName).toSet && calls.size == 11,
      "every function in the table needs a call here")
    withExtensionsSession { s =>
      calls.foreach { case (name, sql) =>
        assert(s.sql(sql).collect().nonEmpty, s"$name returned no rows")
      }
      // an injected operator-optimization rule runs in both operator
      // optimization batches, so it is counted once per batch
      val rules = ruleCount(s)
      assert(rules > 0, "RangeJoinRewrite missing from the optimizer")
      assert(strategyCount(s) == 1, "AsOfJoinStrategy missing from the planner")
      // install on a session that has the table already is a no-op
      GraftExtensions.install(s)
      assert(ruleCount(s) == rules && strategyCount(s) == 1)
    }
  }

  test("install is idempotent: one rule and one strategy after two calls") {
    val s = spark.newSession()
    assert(ruleCount(s) == 0 && strategyCount(s) == 0,
      "a new session must start without the table")
    GraftExtensions.install(s)
    GraftExtensions.install(s)
    assert(ruleCount(s) == 1 && strategyCount(s) == 1)
    calls.foreach { case (name, sql) =>
      assert(s.sql(sql).collect().nonEmpty, s"$name returned no rows")
    }
  }

  test("bucketed tables join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
    try {
      val d = sf0001
      Tables.orders(spark, d).write.mode("overwrite")
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("orders_b")
      Tables.lineitem(spark, d).write.mode("overwrite")
        .bucketBy(4, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("lineitem_b")
      val j = spark.table("lineitem_b").join(spark.table("orders_b"),
        col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus").count()
      val plan = j.queryExecution.executedPlan.toString
      val joinIdx = plan.indexOf("SortMergeJoin")
      assert(joinIdx >= 0, s"expected SMJ:\n$plan")
      // co-located: the join subtree needs no hash Exchange on either side
      val joinSubtree = plan.substring(joinIdx)
      assert(!joinSubtree.contains("Exchange hashpartitioning(l_orderkey") &&
        !joinSubtree.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucketed join still shuffles:\n$plan")
      val joined = j.agg(sum("count")).head().getLong(0)
      assert(joined == Tables.lineitem(spark, d).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }
}
