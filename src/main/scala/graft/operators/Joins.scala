package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Join operators — every flavor (SURVEY.md §2.3).
  *
  * Scale notes: dimension tables (region/nation, and customer at moderate
  * SF) are broadcast so the fact-table scan never shuffles for them; the
  * fact-fact equi join (lineitem⋈orders) shuffles both sides on the join
  * key, which at 100 TB is the bucketing/bucketed-table candidate. The
  * range ("theta") join keeps an equi key so it plans as hash/SMJ with the
  * range as residual filter — a pure theta join would be a cartesian and is
  * banned. As-of is expressed as a lag window: one shuffle on the partition
  * key, no self-join blow-up.
  */
object Joins {

  /** Plain inner equi join orders⋈customer. */
  def joinInner(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(c, o("o_custkey") === c("c_custkey"), "inner")
      .select(col("o_orderkey"), col("c_custkey"), col("c_name"),
        col("c_mktsegment"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc)
      .limit(500)
  }

  /** 5-way star join (TPC-H Q5 flavor): revenue per region/nation.
    * nation+region are explicit broadcasts; AQE may also broadcast
    * customer at bench scale. */
  def joinBroadcast(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    val c  = Tables.customer(s, d)
    val n  = broadcast(Tables.nation(s, d))
    val r  = broadcast(Tables.region(s, d))
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .join(c, o("o_custkey") === c("c_custkey"))
      .join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(
        count(lit(1)).as("cnt"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"))
      .orderBy(col("r_name").asc, col("n_name").asc)
  }

  /** Left outer with aggregate-before-join: the orders side is pre-shrunk
    * to one row per customer, so the join never multiplies rows — the
    * right pattern at 100 TB (join the aggregate, not the fact table). */
  def joinLeft(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val cnt = Tables.orders(s, d)
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("cnt"))
    c.join(cnt, c("c_custkey") === cnt("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("cnt"), lit(0L)).as("n_orders"))
      .orderBy(col("c_custkey").asc)
  }

  /** EXISTS — left semi join (no row multiplication, build side only
    * needs the key column). */
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey").asc)
  }

  /** NOT EXISTS — left anti join. */
  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).select(col("o_custkey"))
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .select(col("c_custkey"), col("c_name"))
      .orderBy(col("c_custkey").asc)
  }

  /** Equi + range (interval) join: lineitems shipped within 90 days of
    * their order date. The orderkey equi key keeps this a hash/SMJ join;
    * the date range is a residual predicate. */
  def joinTheta(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o  = Tables.orders(s, d)
    li.join(o,
        li("l_orderkey") === o("o_orderkey") &&
        to_date(li("l_shipdate")).between(
          to_date(o("o_orderdate")),
          date_add(to_date(o("o_orderdate")), 90)))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("ym").asc)
  }

  /** As-of self-join ≡ lag window when both sides are the same stream:
    * per event, the same user's immediately-preceding event. One shuffle
    * on user_id, no O(n²) pairing. */
  def joinAsof(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc, col("event_id").asc)
    Tables.events(s, d)
      .withColumn("prev_event_id", lag(col("event_id"), 1).over(w))
      .withColumn("gap_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .select(col("event_id"), col("user_id"), col("prev_event_id"),
        col("gap_us"))
      .orderBy(col("event_id").asc)
  }

  /** Generic TWO-stream as-of join (the case lag() can't express): for
    * each non-signup event, the same user's most recent signup at-or-
    * before it. Implemented as merge + last-observation-carried-forward:
    * union both streams (here: two filtered views of one table), sort
    * within the user partition, carry the last signup forward with
    * last(ignoreNulls) — one shuffle, sort-merge semantics, no
    * backward-looking self-join blow-up. The oracle is DuckDB's native
    * ASOF LEFT JOIN, so this pins real as-of semantics. */
  def joinAsofStream(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // Signups sort BEFORE other events at an equal timestamp: ASOF
    // semantics (oracle: e.ts >= s.ts) make a same-instant signup visible
    // to the event, which a plain (ts, event_id) order only honors when
    // the signup happens to carry the lower event_id. Multiple signups
    // for one user at one instant remain ambiguous under ASOF itself;
    // the fixtures contain no such tie.
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").asc,
        when(col("event_type") === "signup", 0).otherwise(1).asc,
        col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(s, d)
      .withColumn("sig_id",
        when(col("event_type") === "signup", col("event_id")))
      .withColumn("sig_ts_us",
        when(col("event_type") === "signup", unix_micros(col("ts"))))
      .withColumn("asof_sig_id", last(col("sig_id"), ignoreNulls = true).over(w))
      .withColumn("asof_sig_ts", last(col("sig_ts_us"), ignoreNulls = true).over(w))
      .filter(col("event_type") =!= "signup")
      .withColumn("since_signup_us",
        unix_micros(col("ts")) - col("asof_sig_ts"))
      .select(col("event_id"), col("user_id"), col("asof_sig_id"),
        col("since_signup_us"))
      .orderBy(col("event_id").asc)
  }

  /** Supplier-side star: revenue and supplier balance per supplier
    * nation (completes coverage of the supplier dimension). */
  def joinSupplier(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val su = Hints.bcOrHash(Tables.supplier(s, d),
      Tables.rowCount(s, d, "supplier"))
    val n  = broadcast(Tables.nation(s, d))
    li.join(su, li("l_suppkey") === su("s_suppkey"))
      .join(n, su("s_nationkey") === n("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("cnt"),
        countDistinct(col("s_suppkey")).as("n_supp"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("revenue"),
        round(min(col("s_acctbal")), 2).as("min_bal"))
      .orderBy(col("n_name").asc)
  }

  /** Fact⋈dimension join over BUCKETED storage (Tables.bucketedView):
    * both sides bucketed on the join key, so the sort-merge join plans
    * with no Exchange on either input — the co-located join path that
    * answers this module's own 100 TB caveat (PlanQualitySpec asserts
    * the exchange-free plan). The merge hint keeps local-mode size
    * estimates from picking a broadcast that would mask the storage
    * layout. Totals aggregate exact integer cents so the result is
    * bit-identical to the oracle's (which reads the RAW tables — same
    * rows, so bucketing must not change any value). */
  def joinBucketed(s: SparkSession, d: String): DataFrame = {
    val o = Tables.bucketedView(s, d, "orders", "o_custkey")
    val c = Tables.bucketedView(s, d, "customer", "c_custkey")
    o.hint("merge").join(c, col("o_custkey") === col("c_custkey"))
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("total_cents"))
      .withColumn("avg_price",
        col("total_cents").cast("double") / lit(100) / col("cnt"))
      .orderBy(col("c_mktsegment").asc)
  }

  /** Pure range join (no equi key): for each error event, count ALL
    * events within ±60 s of it. The naive formulation is an O(n²) theta
    * join (a BroadcastNestedLoop/cartesian at scale); the scale shape is
    * the BUCKETED-INTERVAL join Spark lacks natively: quantize time into
    * range-width buckets, explode each probe into its 3 covering buckets,
    * equi-join on the bucket id, then apply the exact range predicate.
    * The bucket id becomes the shuffle key, so candidate pairs are
    * (events per bucket × 3) per probe — near-linear — and the join is a
    * plain hash/sort-merge equi-join that partitions like any other. */
  def joinRange(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("us", expr("unix_micros(ts)"))
    val all = ev.select(col("event_id").as("b_id"), col("us").as("b_us"))
      .withColumn("bkt", expr("b_us div 60000000"))
    val probes = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("us"))
      .withColumn("bkt", explode(expr(
        "array(us div 60000000 - 1, us div 60000000, us div 60000000 + 1)")))
    probes.join(all, "bkt")
      .filter(abs(col("b_us") - col("us")) <= 60000000L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_nearby"))
      .orderBy(col("event_id").asc)
  }

  /** The SAME range-join semantics as [[joinRange]], but written the way
    * a user naturally would — `abs(a − b) <= w` as the join's ONLY
    * condition — and planned scalably by the `RangeJoinRewrite`
    * optimizer rule, which `SparkEntry.queries` installs through
    * [[graft.GraftExtensions.install]]. This
    * declares the OPTIMIZER-EXTENSION path itself in the correctness
    * gate: the naive predicate would otherwise be a nested-loop plan,
    * and the oracle proves the rewrite is semantics-preserving row for
    * row. PlanQualitySpec pins that the executed plan carries the
    * rewrite (bucket Generate + equi join, no BroadcastNestedLoop). */
  def joinRangeAuto(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("us", expr("unix_micros(ts)"))
    val probes = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("us"))
    val all = ev.select(col("event_id").as("b_id"), col("us").as("b_us"))
    probes.join(all, abs(col("b_us") - col("us")) <= 60000000L)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).as("n_nearby"))
      .orderBy(col("event_id").asc)
  }

  /** Interval-OVERLAP self-join: pairs of the same customer's orders
    * whose 30-day fulfillment windows overlap, with the exact overlap
    * length in whole days — "concurrent orders" per customer. The
    * customer key is the equi key (hash/SMJ shuffle key); the overlap
    * predicate `a.start ≤ b.end ∧ b.start ≤ a.end` is the residual —
    * the same equi+residual discipline as joinTheta. A keyless interval
    * overlap over an order stream is inherently quadratic in output
    * (every order overlaps its whole 30-day neighborhood), so the scale
    * path ALWAYS needs a blocking key; time-bucketing (joinRange) covers
    * the keyless-proximity case. All arithmetic in epoch-µs integers. */
  def joinOverlap(s: SparkSession, d: String): DataFrame = {
    val DayUs = 86400000000L
    val o = Tables.orders(s, d)
      // o_orderdate reads as TIMESTAMP_NTZ; the cast reinterprets the
      // wall-clock as a UTC instant (session TZ is pinned UTC), matching
      // DuckDB's naive epoch_us exactly.
      .withColumn("s_us", expr("unix_micros(CAST(o_orderdate AS TIMESTAMP))"))
      .withColumn("e_us", col("s_us") + lit(30L * DayUs))
    val a = o.select(col("o_custkey").as("ck"), col("o_orderkey").as("a_id"),
      col("s_us").as("a_s"), col("e_us").as("a_e"))
    val b = o.select(col("o_custkey").as("ck_b"), col("o_orderkey").as("b_id"),
      col("s_us").as("b_s"), col("e_us").as("b_e"))
    a.join(b, col("ck") === col("ck_b") && col("a_id") < col("b_id") &&
        col("a_s") <= col("b_e") && col("b_s") <= col("a_e"))
      .withColumn("ov_days", expr(
        "(least(a_e, b_e) - greatest(a_s, b_s)) div 86400000000 + 1"))
      .groupBy(col("ck"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("ov_days")).as("sum_ov_days"))
      .orderBy(col("ck").asc)
  }

  /** FULL OUTER join — completes the join-type family: per nation key,
    * customer count vs supplier count, keeping nations that have only
    * one side (coalesced to 0). Aggregate-then-join keeps the outer join
    * tiny regardless of fact sizes. */
  def joinFull(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d).groupBy(col("c_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_cust"))
    val su = Tables.supplier(s, d).groupBy(col("s_nationkey").as("nk"))
      .agg(count(lit(1)).as("n_supp"))
    c.join(su, Seq("nk"), "full_outer")
      .select(col("nk"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
      .orderBy(col("nk").asc)
  }

  /** Explicit CROSS join — dimension × dimension ONLY (5 × 25 = 125 rows).
    * Plans as BroadcastNestedLoopJoin, which is exactly right for bounded
    * dims; an unbounded cross join is banned everywhere else in the engine
    * (see joinTheta's equi-key discipline). The pair table is the standard
    * "all combinations" scaffold (calendar × entity, region × class). */
  def joinCross(s: SparkSession, d: String): DataFrame = {
    val r = Tables.region(s, d).select(col("r_regionkey"), col("r_name"))
    val n = Tables.nation(s, d)
      .select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    r.crossJoin(n)
      .withColumn("is_home", (col("n_regionkey") === col("r_regionkey")).cast("int"))
      .select(col("r_name"), col("n_name"), col("is_home"))
      .orderBy(col("r_name").asc, col("n_name").asc)
  }

  /** The q_join_asof2 semantics through the NATIVE tier-(c) operator:
    * graft.plans.AsOfJoin (custom LogicalPlan) planned by AsOfJoinStrategy
    * into AsOfJoinExec (sorted-merge SparkPlan). Each side shuffles once
    * on user_id, sorts (key, time) in-partition, then one streaming merge
    * pass holds O(1) state per task — vs the union+window formulation's
    * per-user window buffer. Same DuckDB ASOF LEFT JOIN oracle as
    * q_join_asof2; AsOfJoinSpec additionally pins row-for-row equality
    * between the two engine paths. */
  def joinAsofNative(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).withColumn("us", expr("unix_micros(ts)"))
    val l = ev.filter(col("event_type") =!= "signup")
      .select(col("event_id"), col("user_id"), col("us"))
    val r = ev.filter(col("event_type") === "signup")
      .select(col("event_id").as("sig_id"), col("user_id").as("sig_user"),
        col("us").as("sig_us"))
    graft.plans.AsOfJoinApi.join(l, r, "user_id", "sig_user", "us", "sig_us")
      .select(col("event_id"), col("user_id"),
        col("sig_id").as("asof_sig_id"),
        (col("us") - col("sig_us")).as("since_signup_us"))
      .orderBy(col("event_id").asc)
  }

  // ------------------------------------------------------------- bloom audit

  private val BloomBits = 131072 // m: 4 Ki 32-bit words, broadcast-sized
  private val BloomK = 3

  /** Bloom-filter join pruning made explicit and oracle-checkable — the
    * runtime-filter pattern (build a compact membership sketch on the
    * selective side, drop probe rows that cannot match BEFORE the join)
    * as a declared query: build a k=3, m=128Ki-bit filter over high-value
    * order keys, probe every distinct lineitem order key through it, and
    * report the confusion counts (members, passes, false positives, false
    * negatives — the last provably 0) plus the realized FP rate in
    * permille.
    *
    * Scale shape: the filter is a GROUPED BIT_OR over the build side's
    * hashed bit positions — m/32 = 4 Ki words regardless of build-side row
    * count — then broadcast to the probe scan; the probe side is one
    * narrow pass (3 hashes + a word lookup per key, no shuffle of probe
    * payload). That is exactly the shape Spark's own
    * InjectRuntimeFilter/BloomFilterAggregate plans at 100 TB
    * (RuntimeFilterSpec pins the native path); this surface makes the
    * mechanism's CORRECTNESS gateable: md5-derived bit positions
    * ([[DetHash]]) are bit-identical in DuckDB, so the oracle rebuilds the
    * identical filter and the FP/FN counts must match exactly. Word width
    * is 32 bits: shift amounts stay ≤ 31, which neither engine's checked
    * left shift can overflow (DuckDB errors on BIGINT << 63).
    */
  def joinBloom(s: SparkSession, d: String): DataFrame = {
    val build = Tables.orders(s, d).filter(col("o_totalprice") > 400000)
      .select(col("o_orderkey").as("k")).distinct()
    // One md5 per (key, hash-index), materialized as a column BEFORE the
    // digit fold (DetHash contract), then folded to a bit in [0, m).
    def bitsOf(df: DataFrame): DataFrame = {
      val withH = (0 until BloomK).foldLeft(df) { (acc, j) =>
        acc.withColumn(s"h$j", md5(concat(lit(s"$j:"), col("k").cast("string"))))
      }
      val bitCols = (0 until BloomK).map(j =>
        expr(s"${DetHash.sparkHexInt(s"h$j")} % $BloomBits"))
      withH.select(col("k"), explode(array(bitCols: _*)).as("bit"))
        .withColumn("w", expr("bit div 32"))
        .withColumn("pos", expr("CAST(bit % 32 AS INT)"))
    }
    val words = bitsOf(build)
      .groupBy(col("w"))
      .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), pos))").as("wv"))
    val probe = Tables.lineitem(s, d).select(col("l_orderkey").as("k")).distinct()
    val checked = bitsOf(probe)
      .join(broadcast(words), Seq("w"), "left")
      .withColumn("hit", when(col("wv").isNotNull &&
          expr("(shiftright(wv, pos) & 1) = 1"), 1L).otherwise(0L))
      .groupBy(col("k")).agg(sum(col("hit")).as("n_set"))
    checked.join(build.withColumn("m1", lit(1L)), Seq("k"), "left")
      .withColumn("is_member", coalesce(col("m1"), lit(0L)))
      .withColumn("pass", when(col("n_set") === BloomK, 1L).otherwise(0L))
      .agg(
        count(lit(1)).as("n_keys"),
        sum(col("is_member")).as("n_member"),
        sum(col("pass")).as("n_pass"),
        sum(when(col("pass") === 1 && col("is_member") === 0, 1L)
          .otherwise(0L)).as("n_fp"),
        sum(when(col("pass") === 0 && col("is_member") === 1, 1L)
          .otherwise(0L)).as("n_fn"))
      .withColumn("fp_pm", expr("n_fp * 1000 div (n_keys - n_member)"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_join_bloom"     -> joinBloom,
    "q_join_asof_native" -> joinAsofNative,
    "q_join_cross"     -> joinCross,
    "q_join_full"      -> joinFull,
    "q_join_range"     -> joinRange,
    "q_join_range_auto" -> joinRangeAuto,
    "q_join_overlap"   -> joinOverlap,
    "q_join_bucketed"  -> joinBucketed,
    "q_join_supplier"  -> joinSupplier,
    "q_join_asof2"     -> joinAsofStream,
    "q_join_inner"     -> joinInner,
    "q_join_broadcast" -> joinBroadcast,
    "q_join_left"      -> joinLeft,
    "q_join_semi"      -> joinSemi,
    "q_join_anti"      -> joinAnti,
    "q_join_theta"     -> joinTheta,
    "q_join_asof"      -> joinAsof
  )

  val oracle: Map[String, String] = Map(
    // Identical filter rebuilt from the same md5-derived bit positions;
    // the confusion counts must match exactly, FN provably 0.
    "q_join_bloom" ->
      s"""WITH build AS (
        |  SELECT DISTINCT o_orderkey AS k FROM orders
        |  WHERE o_totalprice > 400000),
        |js AS (SELECT unnest([0, 1, 2]) AS j),
        |bh AS (
        |  SELECT k, md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)) AS h
        |  FROM build CROSS JOIN js),
        |bbit AS (SELECT k, ${DetHash.duckHexInt("h")} % $BloomBits AS bit FROM bh),
        |words AS (
        |  SELECT bit // 32 AS w,
        |         bit_or(CAST(1 AS BIGINT) << CAST(bit % 32 AS INTEGER)) AS wv
        |  FROM bbit GROUP BY 1),
        |probe AS (SELECT DISTINCT l_orderkey AS k FROM lineitem),
        |ph AS (
        |  SELECT k, md5(CAST(j AS VARCHAR) || ':' || CAST(k AS VARCHAR)) AS h
        |  FROM probe CROSS JOIN js),
        |pbit AS (SELECT k, ${DetHash.duckHexInt("h")} % $BloomBits AS bit FROM ph),
        |chk AS (
        |  SELECT p.k,
        |         sum(CASE WHEN w.wv IS NOT NULL
        |                   AND ((w.wv >> CAST(p.bit % 32 AS INTEGER)) & 1) = 1
        |                  THEN 1 ELSE 0 END) AS n_set
        |  FROM pbit p LEFT JOIN words w ON p.bit // 32 = w.w
        |  GROUP BY p.k),
        |fl AS (
        |  SELECT c.n_set,
        |         CASE WHEN b.k IS NULL THEN 0 ELSE 1 END AS is_member,
        |         CASE WHEN c.n_set = $BloomK THEN 1 ELSE 0 END AS pass
        |  FROM chk c LEFT JOIN build b ON c.k = b.k)
        |SELECT CAST(count(*) AS BIGINT) AS n_keys,
        |       CAST(sum(is_member) AS BIGINT) AS n_member,
        |       CAST(sum(pass) AS BIGINT) AS n_pass,
        |       CAST(sum(CASE WHEN pass = 1 AND is_member = 0
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fp,
        |       CAST(sum(CASE WHEN pass = 0 AND is_member = 1
        |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fn,
        |       CAST(sum(CASE WHEN pass = 1 AND is_member = 0
        |                     THEN 1 ELSE 0 END) * 1000
        |         // (count(*) - sum(is_member)) AS BIGINT) AS fp_pm
        |FROM fl""".stripMargin,
    "q_join_asof_native" ->
      """SELECT e.event_id, e.user_id, s.event_id AS asof_sig_id,
        |       epoch_us(e.ts) - epoch_us(s.ts) AS since_signup_us
        |FROM (SELECT * FROM events WHERE event_type <> 'signup') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id ASC""".stripMargin,
    "q_join_cross" ->
      """SELECT r_name, n_name,
        |       CAST(n_regionkey = r_regionkey AS INT) AS is_home
        |FROM region CROSS JOIN nation
        |ORDER BY r_name ASC, n_name ASC""".stripMargin,
    "q_join_full" ->
      """SELECT coalesce(c.nk, s.nk) AS nk,
        |       coalesce(n_cust, 0) AS n_cust,
        |       coalesce(n_supp, 0) AS n_supp
        |FROM (SELECT c_nationkey AS nk, count(*) AS n_cust
        |      FROM customer GROUP BY c_nationkey) c
        |FULL OUTER JOIN
        |     (SELECT s_nationkey AS nk, count(*) AS n_supp
        |      FROM supplier GROUP BY s_nationkey) s
        |  ON c.nk = s.nk
        |ORDER BY nk ASC""".stripMargin,
    // The oracle states the range-join SEMANTICS directly (DuckDB's IEJoin
    // handles the inequality); the engine side is the bucketed rewrite.
    "q_join_overlap" ->
      """WITH o AS (
        |  SELECT o_custkey AS ck, o_orderkey AS id,
        |         epoch_us(o_orderdate) AS s_us,
        |         epoch_us(o_orderdate) + 30 * 86400000000 AS e_us
        |  FROM orders)
        |SELECT a.ck,
        |       count(*) AS n_pairs,
        |       CAST(sum((least(a.e_us, b.e_us) - greatest(a.s_us, b.s_us))
        |         // 86400000000 + 1) AS BIGINT) AS sum_ov_days
        |FROM o a JOIN o b
        |  ON a.ck = b.ck AND a.id < b.id
        | AND a.s_us <= b.e_us AND b.s_us <= a.e_us
        |GROUP BY a.ck
        |ORDER BY a.ck ASC""".stripMargin,
    "q_join_range_auto" ->
      """SELECT e.event_id, count(*) AS n_nearby
        |FROM events e JOIN events a
        |  ON abs(epoch_us(a.ts) - epoch_us(e.ts)) <= 60000000
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id
        |ORDER BY e.event_id ASC""".stripMargin,
    "q_join_range" ->
      """SELECT e.event_id, count(*) AS n_nearby
        |FROM events e JOIN events a
        |  ON abs(epoch_us(a.ts) - epoch_us(e.ts)) <= 60000000
        |WHERE e.event_type = 'error'
        |GROUP BY e.event_id
        |ORDER BY e.event_id ASC""".stripMargin,
    "q_join_bucketed" ->
      """SELECT c_mktsegment, count(*) AS cnt,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT) AS total_cents,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT)::DOUBLE / 100 / count(*) AS avg_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment
        |ORDER BY c_mktsegment ASC""".stripMargin,
    "q_join_supplier" ->
      """SELECT n_name, count(*) AS cnt,
        |       count(DISTINCT s_suppkey) AS n_supp,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       round(min(s_acctbal), 2) AS min_bal
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation   ON s_nationkey = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name ASC""".stripMargin,
    "q_join_asof2" ->
      """SELECT e.event_id, e.user_id, s.event_id AS asof_sig_id,
        |       epoch_us(e.ts) - epoch_us(s.ts) AS since_signup_us
        |FROM (SELECT * FROM events WHERE event_type <> 'signup') e
        |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup') s
        |  ON e.user_id = s.user_id AND e.ts >= s.ts
        |ORDER BY e.event_id ASC""".stripMargin,
    "q_join_inner" ->
      """SELECT o_orderkey, c_custkey, c_name, c_mktsegment, o_totalprice
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |ORDER BY o_orderkey ASC
        |LIMIT 500""".stripMargin,
    "q_join_broadcast" ->
      """SELECT r_name, n_name, count(*) AS cnt,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name
        |ORDER BY r_name ASC, n_name ASC""".stripMargin,
    "q_join_left" ->
      """SELECT c_custkey, coalesce(cnt, 0) AS n_orders
        |FROM customer
        |LEFT JOIN (SELECT o_custkey, count(*) AS cnt
        |           FROM orders GROUP BY o_custkey) o
        |  ON c_custkey = o.o_custkey
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name
        |FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey ASC""".stripMargin,
    "q_join_theta" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS cnt
        |FROM lineitem
        |JOIN orders ON l_orderkey = o_orderkey
        | AND CAST(l_shipdate AS DATE)
        |     BETWEEN CAST(o_orderdate AS DATE)
        |         AND CAST(o_orderdate AS DATE) + 90
        |GROUP BY ym
        |ORDER BY ym ASC""".stripMargin,
    "q_join_asof" ->
      """SELECT event_id, user_id,
        |       lag(event_id) OVER w AS prev_event_id,
        |       epoch_us(ts) - lag(epoch_us(ts)) OVER w AS gap_us
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |ORDER BY event_id ASC""".stripMargin
  )
}
