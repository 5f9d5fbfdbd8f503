package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Aggregation operators (SURVEY.md §2.4).
  *
  * All group-bys are hash aggregations: Spark plans partial (map-side)
  * + final aggregation automatically, so at cluster scale only the already-
  * combined partials cross the shuffle. Outputs are totally ordered with a
  * unique tiebreak and double aggregates are rounded (§7.4 determinism).
  */
object Aggs {

  /** Top-10 users by event count — the reference's flagship
    * "top contributing users" shape. Hash-agg on user_id then
    * TakeOrderedAndProject (bounded heap per task, no global sort). */
  def topkGroups(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy("user_id")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("user_id").asc)
      .limit(10)

  /** Global scalar aggregates over the fact table. */
  def aggGlobal(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d).agg(
      count(lit(1)).as("cnt"),
      countDistinct(col("l_orderkey")).as("n_orders"),
      date_format(min(col("l_shipdate")), "yyyy-MM-dd").as("min_ship"),
      date_format(max(col("l_shipdate")), "yyyy-MM-dd").as("max_ship"),
      round(sum(col("l_extendedprice")), 2).as("sum_price"),
      round(avg(col("l_quantity")), 2).as("avg_qty"))

  /** TPC-H Q1: the canonical partial-aggregation showcase. */
  def aggGroupby(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
          .as("sum_disc_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))
          * (lit(1) + col("l_tax"))), 2).as("sum_charge"),
        round(avg(col("l_quantity")), 2).as("avg_qty"),
        round(avg(col("l_extendedprice")), 2).as("avg_price"),
        round(avg(col("l_discount")), 4).as("avg_disc"),
        count(lit(1)).as("cnt"))
      .orderBy(col("l_returnflag").asc, col("l_linestatus").asc)

  /** COUNT(DISTINCT) per group — plans as expand + two-phase agg. */
  def aggDistinct(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy(col("event_type").asc)

  /** HAVING: number of users with exactly one event. */
  def aggHaving(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") === 1)
      .agg(count(lit(1)).as("n_single_users"))

  /** ROLLUP over the region→nation hierarchy (grouping-sets surface).
    * NULL subtotal rows are sorted NULLS FIRST explicitly on both
    * engines (Spark and DuckDB default differently — §7.4.2). */
  def aggRollup(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val n = broadcast(Tables.nation(s, d))
    val r = broadcast(Tables.region(s, d))
    c.join(n, c("c_nationkey") === n("n_nationkey"))
      .join(r, n("n_regionkey") === r("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_cust"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("r_name").asc_nulls_first, col("n_name").asc_nulls_first)
  }

  /** CUBE over (event_type, day). */
  def aggCube(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .cube(col("event_type"), col("day"))
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("event_type").asc_nulls_first, col("day").asc_nulls_first)

  /** PIVOT with an explicit value list (plan determinism — never let
    * Spark discover pivot values at runtime). */
  def aggPivot(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .withColumn("day", date_format(date_trunc("day", col("ts")), "yyyy-MM-dd"))
      .groupBy(col("day"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(round(sum(col("value")), 2))
      .orderBy(col("day").asc)

  /** HLL sketch — engines' sketches differ, so declared without oracle. */
  def approxDistinct(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .agg(approx_count_distinct(col("l_partkey")).as("approx_parts"),
        count(lit(1)).as("cnt"))

  /** Custom typed UDAF (Aggregator): quantity-weighted average price per
    * brand. Oracle is the algebraic identity sum(p*q)/sum(q). */
  def udafWavg(s: SparkSession, d: String): DataFrame = {
    val wavg = udaf(graft.functions.WeightedAvg)
    val li = Tables.lineitem(s, d)
    val p  = Hints.bcOrHash(Tables.part(s, d), Tables.rowCount(s, d, "part"))
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(round(wavg(col("l_extendedprice"), col("l_quantity")), 2)
        .as("wavg_price"),
        count(lit(1)).as("cnt"))
      .orderBy(col("p_brand").asc)
  }

  /** Exact median + deterministic mode per returnflag. Median is the
    * interpolated 0.5-percentile (rounded at 4 like the percentile query —
    * quantities are integer-valued doubles, so midpoints land on .0/.5).
    * Mode is computed EXPLICITLY as (max count, min value) via count +
    * row_number: the built-in `mode()` has no deterministic tie rule in
    * either engine, so the explicit algebra is what makes the query
    * oracle-able. */
  def aggMedianMode(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, d)
    val med = li.groupBy(col("l_returnflag"))
      .agg(round(expr("percentile(l_quantity, 0.5)"), 4).as("median_qty"),
        count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("c").desc, col("l_quantity").asc)
    val mode = li.groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("c"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("l_returnflag"), col("l_quantity").as("mode_qty"),
        col("c").as("mode_cnt"))
    med.join(mode, "l_returnflag")
      .orderBy(col("l_returnflag").asc)
  }

  /** Wide→long UNPIVOT (melt): per-returnflag counts of rows / distinct
    * parts / distinct suppliers pivoted into (flag, metric, value) rows —
    * the inverse of q_agg_pivot and the standard reshape before a generic
    * metric sink. Narrow generator after one aggregation: the unpivot
    * itself is a per-row Expand, no extra shuffle. All measures cast to
    * BIGINT because unpivot requires a common value type. */
  def aggUnpivot(s: SparkSession, d: String): DataFrame = {
    val wide = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).cast("long").as("n_rows"),
        countDistinct(col("l_partkey")).cast("long").as("n_parts"),
        countDistinct(col("l_suppkey")).cast("long").as("n_supps"))
    wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("n_rows"), col("n_parts"), col("n_supps")),
        "metric", "value")
      .orderBy(col("l_returnflag").asc, col("metric").asc)
  }

  /** MERGEABLE distinct-count sketches — the 100 TB rollup pattern the
    * single-shot approx_count_distinct can't express: per-(type, day)
    * partial HLL sketches are built once, then UNIONED up the hierarchy
    * (day → type) without touching raw rows again. At scale the partials
    * live in a metrics table and every re-aggregation is sketch-sized,
    * not data-sized. Sketch bytes are engine-specific → declared
    * no-oracle; SketchSpec pins the estimates against exact counts. */
  def approxHll(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("day", date_trunc("DAY", col("ts")))
    val partials = ev.groupBy(col("event_type"), col("day"))
      .agg(expr("hll_sketch_agg(user_id)").as("sk"),
        count(lit(1)).as("n"))
    partials.groupBy(col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(sk))").as("approx_users"),
        sum(col("n")).as("n_events"),
        count(lit(1)).as("n_days"))
      .orderBy(col("event_type").asc)
  }

  // ---------------------------------------------- integer HLL (oracled)

  /** ⌊α_256 · 10⁶⌋ · m² · 2²⁵ — the HLL estimate numerator as ONE exact
    * long literal shared verbatim by the Spark plan and the oracle SQL
    * (α_256 = 0.7213/(1 + 1.079/256) ≈ 0.718273). */
  private val HllEstNum: Long = 718273L * 65536L * 33554432L

  /** Shared CASE ladder (valid in both dialects): position of the highest
    * set bit of the 24-bit suffix `w`, counted from the top, +1 — the HLL
    * rank ρ(w); all-zero suffix → 25. */
  private val hllRhoCase: String =
    "CASE " + (0 until 24).map(i =>
      s"WHEN w >= ${1L << (23 - i)} THEN ${i + 1}").mkString(" ") + " ELSE 25 END"

  /** Linear-counting table m·ln(m/V) for every possible zero-register
    * count V ∈ [1, 255], PRE-ROUNDED to integer literals at plan-build —
    * the one float in the HLL algorithm folded into a lookup both engines
    * read identically, keeping the whole estimator integer-exact. */
  private val hllLinCase: String =
    "CASE zero_buckets " + (1 to 255).map(v =>
      s"WHEN $v THEN ${math.round(256.0 * math.log(256.0 / v))}")
      .mkString(" ") + " ELSE hll_raw END"

  /** Standard HLL regime switch: small-range linear counting applies when
    * any register is still zero and the raw estimate is under 2.5m. */
  private val hllUsersExpr: String =
    "CAST(CASE WHEN zero_buckets > 0 AND hll_raw <= 640 " +
      s"THEN ($hllLinCase) ELSE hll_raw END AS BIGINT)"

  /** HyperLogLog distinct-user estimate per event type in EXACT integer
    * arithmetic — the fully-ORACLED twin of [[approxHll]] (whose
    * datasketches registers/estimate are engine-internal). Same md5 hex
    * fold as the oracled MinHash family ([[DetHash]]): both engines
    * compute the identical 32-bit hash, split top-8-bits bucket / 24-bit
    * suffix, take per-bucket max rank (the registers — 256 × 5 rows, a
    * partial+final max agg), and evaluate the raw HLL estimate
    * α·m²/Σ2^−reg with the division scaled to integers (Σ2^−reg is
    * carried as S = Σ2^(25−reg), an exact BIGINT ≤ 2³³, so the estimate
    * is α_ppm·m²·2²⁵ div S div 10⁶ — floor-rounded the same on both
    * engines). `hll_users` applies the standard small-range
    * linear-counting correction with the float ln pre-rounded into a
    * 255-entry integer lookup ([[hllLinCase]]), so even the corrected
    * estimate is bit-equal across engines; `hll_raw`/`zero_buckets` stay
    * in the output to make the regime switch auditable. [[approxHll]]
    * remains the native-datasketches row.
    *
    * Scale shape: narrow per-row map (md5 + fold + two divs + CASE),
    * partial max into at most 256·|types| register cells, then a
    * register-sized final agg — the classic mergeable-sketch plan where
    * only registers cross the shuffle, never user ids. */
  /** (event_type, bucket, reg) HLL registers from any (event_type,
    * user_id) frame — shared by the batch query and the STREAMING parity
    * test: registers are a pure max-aggregate, so the identical plan
    * runs as a Structured Streaming stateful agg (update/complete mode)
    * with one state row per (type, bucket), the mergeable-sketch
    * streaming story in one reusable stage. */
  def hllRegisters(ev: DataFrame): DataFrame =
    ev.withColumn("hx", expr("md5(CAST(user_id AS STRING))"))
      .withColumn("h32", expr(DetHash.sparkHexInt("hx")))
      .withColumn("bucket", expr("h32 div 16777216"))
      .withColumn("w", expr("h32 % 16777216"))
      .withColumn("rho", expr(s"CAST($hllRhoCase AS BIGINT)"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(max(col("rho")).as("reg"))

  def approxHllInt(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d).select(col("event_type"), col("user_id"))
    val reg = hllRegisters(ev)
    val est = reg.groupBy(col("event_type"))
      .agg(sum(expr("CAST(shiftleft(1, CAST(25 - reg AS INT)) AS BIGINT)"))
          .as("s_present"),
        count(lit(1)).as("n_present"))
      .withColumn("zero_buckets", lit(256L) - col("n_present"))
      .withColumn("s_val",
        col("s_present") + col("zero_buckets") * lit(33554432L))
      .withColumn("hll_raw", expr(s"$HllEstNum div s_val div 1000000"))
      .withColumn("hll_users", expr(hllUsersExpr))
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("exact_users"))
      .join(est, "event_type")
      .select(col("event_type"), col("n_events"), col("exact_users"),
        col("hll_users"), col("hll_raw"), col("zero_buckets"))
      .orderBy(col("event_type").asc)
  }

  /** DuckDB replay of [[approxHllInt]], generated from the same
    * constants/ladder. */
  private def hllIntOracle: String =
    s"""WITH hx AS (
       |  SELECT event_type, user_id, md5(CAST(user_id AS VARCHAR)) AS hxs
       |  FROM events),
       |h AS (
       |  SELECT event_type, ${DetHash.duckHexInt("hxs")} AS h32 FROM hx),
       |w AS (
       |  SELECT event_type, h32 // 16777216 AS bucket, h32 % 16777216 AS w
       |  FROM h),
       |r AS (
       |  SELECT event_type, bucket, $hllRhoCase AS rho FROM w),
       |reg AS (
       |  SELECT event_type, bucket, max(rho) AS reg FROM r GROUP BY 1, 2),
       |s AS (
       |  SELECT event_type,
       |         CAST(sum(1 << (25 - reg)) AS BIGINT) AS s_present,
       |         count(*) AS n_present
       |  FROM reg GROUP BY 1),
       |sv AS (
       |  SELECT event_type, 256 - n_present AS zero_buckets,
       |         s_present + (256 - n_present) * 33554432 AS s_val
       |  FROM s),
       |sv2 AS (
       |  SELECT event_type, zero_buckets,
       |         CAST($HllEstNum // s_val // 1000000 AS BIGINT) AS hll_raw
       |  FROM sv),
       |e AS (
       |  SELECT event_type, count(*) AS n_events,
       |         count(DISTINCT user_id) AS exact_users
       |  FROM events GROUP BY 1)
       |SELECT e.event_type, e.n_events, e.exact_users,
       |       $hllUsersExpr AS hll_users,
       |       hll_raw,
       |       CAST(zero_buckets AS BIGINT) AS zero_buckets
       |FROM e JOIN sv2 USING (event_type)
       |ORDER BY e.event_type ASC""".stripMargin

  /** Count-min frequency estimates vs exact counts for a probe key set.
    * One pass builds the mergeable DEPTH×WIDTH sketch (8 KiB crosses the
    * shuffle, never a key-count table); the finished matrix rides along
    * as a 1-row BROADCAST (crossJoin) — not a driver `.head()` — so
    * query construction stays lazy and the probe stage reads the matrix
    * where it runs. The point estimate is pure codegen'd SQL: min over
    * DEPTH of element_at at the Carter–Wegman slot (constants from
    * [[graft.functions.CountMinSketch]], mirrored verbatim in the oracle
    * SQL, which replays bucket counts in DuckDB — the modular hash never
    * overflows, so checked and wrapping engines agree bit-for-bit).
    * `overcount` makes the sketch's one-sided error auditable in the
    * output; CountMinSpec pins the ≥-exact guarantee and merge
    * associativity. */
  def approxCms(s: SparkSession, d: String): DataFrame = {
    import graft.functions.{CountMinSketch => CMS}
    val cms = udaf(CMS)
    val ev = Tables.events(s, d)
    val sketch = ev.agg(cms(col("user_id")).as("sk"))
    val estExpr = expr((0 until CMS.Depth).map { r =>
      s"element_at(sk, ${r * CMS.Width} + CAST(((${CMS.HashA(r)} * pmod(user_id, ${CMS.P}) " +
        s"+ ${CMS.HashB(r)}) % ${CMS.P}) % ${CMS.Width} AS INT) + 1)"
    }.mkString("least(", ", ", ")"))
    ev.filter(col("user_id") % 5 === 0)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("exact"))
      .crossJoin(broadcast(sketch))
      .withColumn("cms_est", estExpr)
      .withColumn("overcount", col("cms_est") - col("exact"))
      .select(col("user_id"), col("exact"), col("cms_est"), col("overcount"))
      .orderBy(col("user_id").asc)
  }

  /** Fixed-width histogram of order totals — $5,000 bins by integer-cents
    * floor division (`div`, not float divide-and-truncate: the bin edge
    * must never move by an ulp). One hash agg over the fact; bins are the
    * group key, so the histogram is a few dozen rows no matter how the
    * fact grows — the profile query that precedes any skew/salting
    * decision at 100 TB. */
  def aggHistogram(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d)
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .groupBy(expr("cents div 500000").as("bin"))
      .agg(count(lit(1)).as("n_orders"),
        min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents")).as("sum_cents"))
      .withColumn("bin_lo_cents", col("bin") * 500000)
      .orderBy(col("bin").asc)

  /** Heavy hitters via the native approx_top_k sketch (Spark 4's
    * bounded-memory frequent-items aggregate). Run in its EXACT regime —
    * maxItemsTracked (65536) far exceeds the user domain, so every count
    * is exact and the declared output equals the true top-10, which is
    * what licenses a plain SQL oracle (the same contract as the HLL/CMS
    * rows, which stay no-oracle because their error is nonzero). The
    * sketch's own tie order at the fetch boundary is unspecified, so
    * fetch 100 deep and re-rank under the engine's total order (cnt
    * desc, user_id asc) before cutting to 10 — a ≥91-way boundary tie
    * is the only thing that could diverge, and the gate would catch it.
    * At 100 TB the same one-pass sketch replaces the exact two-phase
    * top-k whenever the domain outgrows memory. */
  def approxTopK(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .agg(expr("approx_top_k(user_id, 100, 65536)").as("tk"))
      .select(explode(col("tk")).as("e"))
      .select(col("e.item").as("user_id"), col("e.count").as("cnt"))
      .orderBy(col("cnt").desc, col("user_id").asc)
      .limit(10)

  /** Exact WEIGHTED median per group: the 50%-of-total-weight crossing
    * point (2·cum ≥ total in integers: no float half, no interpolation
    * ambiguity), computed over the VALUE-DOMAIN weight histogram — the
    * same round-10 rewrite as Analytics.statsMad, see there for the
    * full argument. The old row-window form sorted every order row
    * inside 5 priority partitions (5 single-task sorts of the fact at
    * any scale); the crossing VALUE is identical when cumulating the
    * per-cents weight sums in cents order (the within-run ok tiebreak
    * never changed the picked value), so the median computes from a
    * (pri, cents)→Σwt histogram bounded by the price domain. One fact
    * pass with partial aggregation; the cumulative window sorts
    * distinct values. Measured at 100× (same-session solo A/B): 8.87 →
    * 1.65 s (ratio 13.9× → 1.6×); sf0.1 TimeOne min 0.78 → 0.98 s
    * (+0.2 s of histogram joins at near-distinct-price base scale —
    * the statsMad trade, far under the bench gate).
    * Results hash-identical (oracle 1/1 at sf0.01). The
    * bounded-state twin for unsorted scale remains q_agg_wmedian_native
    * (TypedImperativeAggregate) / percentile_approx
    * (q_win_ntile_approx's family). */
  def aggWmedian(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = Tables.orders(s, d)
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .withColumn("wt", expr("1 + o_orderkey % 5")) // deterministic weights
      .groupBy(col("o_orderpriority"), col("cents"))
      .agg(sum(col("wt")).as("w"))
    val tot = counts.groupBy(col("o_orderpriority"))
      .agg(sum(col("w")).as("tot"))
    counts
      .withColumn("cum", sum(col("w")).over(
        Window.partitionBy(col("o_orderpriority")).orderBy(col("cents").asc)))
      .join(tot, "o_orderpriority")
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy(col("o_orderpriority"), col("tot"))
      .agg(min(col("cents")).as("wmedian_cents"))
      .select(col("o_orderpriority"), col("wmedian_cents"),
        col("tot").as("total_weight"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Top-3 orders per customer through the BOUNDED-STATE Aggregator
    * (graft.functions.TopK): only the 3-element buffer crosses the
    * shuffle (map-side combine for top-k), where the window-rank form
    * shuffles every order row. The oracle IS the window-rank SQL, so the
    * gate proves the buffered aggregation ≡ rank-then-filter exactly —
    * tie order (cents desc, orderkey asc) is encoded in both. */
  def udafTopk(s: SparkSession, d: String): DataFrame = {
    val top3 = udaf(new graft.functions.TopK(3))
    Tables.orders(s, d)
      .select(col("o_custkey"),
        expr("CAST(round(o_totalprice * 100) AS BIGINT)").as("cents"),
        col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(top3(col("cents"), col("o_orderkey")).as("top"))
      .select(col("o_custkey"), posexplode(col("top")))
      .select(col("o_custkey"), (col("pos") + 1).cast("long").as("rnk"),
        col("col._1").as("total_cents"), col("col._2").as("o_orderkey"))
      .orderBy(col("o_custkey").asc, col("rnk").asc)
  }

  /** The TYPED Dataset aggregation path — groupByKey → mapValues →
    * reduceGroups over a case-class-free tuple Dataset: the
    * `KeyValueGroupedDataset` API the DSL queries deliberately avoid.
    * The trade is explicit and documented: reduceGroups runs the merge
    * as JVM objects outside whole-stage codegen (fine for a 3-group
    * reduce; wrong for wide aggregates — use the DSL or an Aggregator
    * there, cf. q_udaf_wavg). Declared so the typed surface has a
    * correctness row: the object path must produce byte-identical
    * results to the SQL oracle. Integer cents keep the reduce
    * order-free. */
  def typedAgg(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.lineitem(s, d)
      .select(col("l_returnflag"),
        expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("cents"))
      .as[(String, Long)]
      .groupByKey(_._1)
      .mapValues(_._2)
      .reduceGroups(_ + _)
      .toDF("flag", "sum_cents")
      .orderBy(col("flag").asc)
  }

  /** grouping_id() over a rollup — the mask that lets one result set
    * carry detail rows, per-flag subtotals, and the grand total while
    * staying machine-distinguishable (NULL-valued detail cells vs
    * NULL-as-subtotal is otherwise ambiguous). gid bit order is the
    * grouping column order (leftmost = MSB) in BOTH engines. */
  def aggGroupingId(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(grouping_id().as("gid"), count(lit(1)).as("n"),
        sum(expr("CAST(l_quantity AS BIGINT)")).as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"),
        col("n"), col("sum_qty"))
      .orderBy(col("gid").asc, col("l_returnflag").asc_nulls_last,
        col("l_linestatus").asc_nulls_last)

  /** The q_udaf_wavg semantics through the NATIVE aggregate tier:
    * [[graft.functions.WeightedAvgCents]] is a DeclarativeAggregate
    * whose update/merge are Catalyst expression trees — codegen'd,
    * partially aggregated, merge-order-exact (integer cents), where the
    * Aggregator tier pays encoder boxing and the double version owes its
    * last ulp to summation order. Same join/grouping shape as
    * q_udaf_wavg. */
  def udafWavgNative(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .withColumn("cents", expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
      .withColumn("qty", expr("CAST(l_quantity AS BIGINT)"))
    val p = Hints.bcOrHash(Tables.part(s, d), Tables.rowCount(s, d, "part"))
    li.join(p, li("l_partkey") === p("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(expr("wavg_cents(cents, qty)").as("wavg_cents"),
        count(lit(1)).as("cnt"))
      .orderBy(col("p_brand").asc)
  }

  /** The q_agg_wmedian semantics through the OBJECT-buffer native tier:
    * [[graft.functions.WeightedMedianCents]] is a TypedImperativeAggregate
    * whose state is a value→weight histogram, so map-side combine
    * collapses duplicate cents before the shuffle — the window-rank form
    * this replaces shuffles EVERY order row into a per-group sort. State
    * is distinct-value-bounded (quantized cents), the histogram-median
    * tradeoff. Oracle is the same window crossing-point SQL, so the gate
    * proves histogram-merge ≡ rank-then-filter exactly. */
  def aggWmedianNative(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d)
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
      .withColumn("wt", expr("CAST(1 + o_orderkey % 5 AS BIGINT)"))
      .groupBy(col("o_orderpriority"))
      .agg(expr("wmedian_cents(cents, wt)").as("wmedian_cents"),
        sum(col("wt")).as("total_weight"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Incremental aggregate maintenance — the partial-merge algebra every
    * scheduled 100 TB rollup lives on: a persisted per-key STATE (orders
    * before the split date, standing in for yesterday's materialized
    * aggregate) is combined with a fresh DELTA partial (the new
    * partition) by unioning the two partial tables and re-aggregating —
    * count and sum merge by addition, avg is RE-DERIVED from the merged
    * (sum, count) pair rather than averaged-of-averages (the classic
    * incremental-avg bug, wrong whenever the sides are unequal sizes).
    * The oracle is the plain full-table aggregate: the gate proves
    * merge(state, delta) ≡ recompute exactly, which is the entire
    * correctness obligation of an incremental pipeline. Integer cents
    * end-to-end; avg as truncating div of merged sums. */
  def aggIncr(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"), sum(col("cents")).as("cents"))
    val state = partial(o.filter(expr("o_orderdate < TIMESTAMP '1995-01-01'")))
    val delta = partial(o.filter(expr("o_orderdate >= TIMESTAMP '1995-01-01'")))
    state.union(delta)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("cnt")).as("cnt"), sum(col("cents")).as("sum_cents"))
      .withColumn("avg_cents", expr("sum_cents div cnt"))
      .orderBy(col("o_orderpriority").asc)
  }

  /** Incremental view maintenance WITH RETRACTION — the harder half of
    * q_agg_incr: when the delta carries deletes and updates (not just
    * appends), the maintained aggregate applies SIGNED partials — each
    * change class emits (group, Δcount, Δsum) with its sign and one
    * union-and-sum folds them into the standing state. Deletes subtract
    * their full contribution, updates contribute only (new − old), and
    * inserts add — never a recompute of the unchanged mass. The change
    * feed here is the same deterministic modular mutation set
    * q_dq_snapdiff classifies (97-deletes, 89-cent-bumps, 101-inserts),
    * and the ORACLE aggregates the mutated snapshot directly, so the
    * gate proves maintain(state, changes) ≡ recompute(snapshot) exactly
    * — the invariant a materialized view's correctness rests on.
    * Integer cents throughout; avg re-derived from merged sums. */
  def aggIvm(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
      .withColumn("cents",
        expr("CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"))
    def part(df: DataFrame, dcnt: Column, dcents: Column): DataFrame =
      df.groupBy(col("o_orderpriority"))
        .agg(sum(dcnt).as("dcnt"), sum(dcents).as("dcents"))
    val state = part(o, lit(1L), col("cents"))
    val del = part(o.filter(col("o_orderkey") % 97 === 0),
      lit(-1L), -col("cents"))
    val upd = part(o.filter(col("o_orderkey") % 97 =!= 0 &&
        col("o_orderkey") % 89 === 0),
      lit(0L), lit(1L)) // new − old = +1 cent, count unchanged
    val ins = part(o.filter(col("o_orderkey") % 101 === 0),
      lit(1L), col("cents"))
    state.unionByName(del).unionByName(upd).unionByName(ins)
      .groupBy(col("o_orderpriority"))
      .agg(sum(col("dcnt")).as("cnt"), sum(col("dcents")).as("sum_cents"))
      // a fully-retracted group (cnt == 0) has left the view — the
      // recompute oracle omits it, so the maintained state must too
      .filter(col("cnt") > 0)
      .withColumn("avg_cents", expr("sum_cents div cnt"))
      .orderBy(col("o_orderpriority").asc)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_agg_ivm"            -> aggIvm,
    "q_agg_incr"           -> aggIncr,
    "q_agg_wmedian_native" -> aggWmedianNative,
    "q_udaf_wavg_native" -> udafWavgNative,
    "q_agg_groupingid" -> aggGroupingId,
    "q_udaf_topk"       -> udafTopk,
    "q_typed_agg"       -> typedAgg,
    "q_agg_wmedian"     -> aggWmedian,
    "q_approx_topk"     -> approxTopK,
    "q_agg_histogram"   -> aggHistogram,
    "q_approx_cms"      -> approxCms,
    "q_agg_unpivot"     -> aggUnpivot,
    "q_approx_hll"      -> approxHll,
    "q_approx_hll_int"  -> approxHllInt,
    "q_agg_median_mode" -> aggMedianMode,
    "q_topk_groups"     -> topkGroups,
    "q_agg_global"      -> aggGlobal,
    "q_agg_groupby"     -> aggGroupby,
    "q_agg_distinct"    -> aggDistinct,
    "q_agg_having"      -> aggHaving,
    "q_agg_rollup"      -> aggRollup,
    "q_agg_cube"        -> aggCube,
    "q_agg_pivot"       -> aggPivot,
    "q_approx_distinct" -> approxDistinct,
    "q_udaf_wavg"       -> udafWavg
  )

  val oracle: Map[String, String] = Map(
    // direct aggregate over the MUTATED snapshot: signed-partial
    // maintenance must reproduce it exactly
    "q_agg_ivm" ->
      """WITH snap AS (
        |  SELECT o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           + CASE WHEN o_orderkey % 89 = 0 THEN 1 ELSE 0 END
        |           AS cents
        |  FROM orders WHERE o_orderkey % 97 <> 0
        |  UNION ALL
        |  SELECT o_orderpriority,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |  FROM orders WHERE o_orderkey % 101 = 0)
        |SELECT o_orderpriority, count(*) AS cnt,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       CAST(sum(cents) AS BIGINT) // count(*) AS avg_cents
        |FROM snap
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    // the plain full recompute: merge(state, delta) must equal it exactly
    "q_agg_incr" ->
      """SELECT o_orderpriority,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT) AS sum_cents,
        |       CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
        |         AS BIGINT)) AS BIGINT)
        |         // count(*) AS avg_cents
        |FROM orders
        |GROUP BY o_orderpriority
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "q_approx_hll_int" -> hllIntOracle,
    // Full replay of the count-min pipeline: bucket counts per (row,
    // slot) under the same Carter–Wegman constants as
    // graft.functions.CountMinSketch (keep in sync!), estimate = min
    // over the DEPTH hit cells. The modular hash never overflows BIGINT,
    // so DuckDB's checked arithmetic reproduces the sketch bit-exactly.
    "q_approx_cms" ->
      """WITH h(r, a, b) AS (VALUES
        |    (0, 1103515245, 12345),
        |    (1, 1588635695, 1013904223),
        |    (2, 1999999973, 370248451),
        |    (3, 1223106847, 998244353)),
        |cells AS (
        |  SELECT h.r AS r,
        |         ((h.a * (((e.user_id % 2147483647) + 2147483647) % 2147483647) + h.b) % 2147483647) % 256 AS slot,
        |         count(*) AS c
        |  FROM events e CROSS JOIN h
        |  GROUP BY 1, 2),
        |probes AS (
        |  SELECT user_id, count(*) AS exact
        |  FROM events WHERE user_id % 5 = 0
        |  GROUP BY user_id)
        |SELECT p.user_id, p.exact, min(c.c) AS cms_est,
        |       min(c.c) - p.exact AS overcount
        |FROM probes p
        |JOIN h ON TRUE
        |JOIN cells c ON c.r = h.r
        | AND c.slot = ((h.a * (((p.user_id % 2147483647) + 2147483647) % 2147483647) + h.b) % 2147483647) % 256
        |GROUP BY p.user_id, p.exact
        |ORDER BY p.user_id ASC""".stripMargin,
    // Same crossing-point algebra as q_agg_wmedian — the native
    // histogram aggregate must reproduce the window form exactly.
    "q_agg_wmedian_native" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         1 + o_orderkey % 5 AS wt
        |  FROM orders),
        |c AS (
        |  SELECT *,
        |         sum(wt) OVER (PARTITION BY o_orderpriority
        |                       ORDER BY cents ASC, o_orderkey ASC
        |                       ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(wt) OVER (PARTITION BY o_orderpriority) AS tot
        |  FROM t),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |                               ORDER BY cum ASC, o_orderkey ASC) AS rn
        |  FROM c WHERE cum * 2 >= tot)
        |SELECT o_orderpriority, cents AS wmedian_cents,
        |       CAST(tot AS BIGINT) AS total_weight
        |FROM r WHERE rn = 1
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "q_udaf_wavg_native" ->
      """SELECT p_brand,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
        |                * CAST(l_quantity AS BIGINT))
        |         // sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS wavg_cents,
        |       count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand ASC""".stripMargin,
    "q_agg_groupingid" ->
      """SELECT l_returnflag, l_linestatus,
        |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        |       count(*) AS n,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty
        |FROM lineitem
        |GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY gid ASC, l_returnflag ASC NULLS LAST,
        |         l_linestatus ASC NULLS LAST""".stripMargin,
    "q_udaf_topk" ->
      """WITH r AS (
        |  SELECT o_custkey,
        |         CAST(round(o_totalprice * 100) AS BIGINT) AS total_cents,
        |         o_orderkey,
        |         CAST(row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY CAST(round(o_totalprice * 100) AS BIGINT) DESC,
        |                    o_orderkey ASC) AS BIGINT) AS rnk
        |  FROM orders)
        |SELECT o_custkey, rnk, total_cents, o_orderkey
        |FROM r WHERE rnk <= 3
        |ORDER BY o_custkey ASC, rnk ASC""".stripMargin,
    "q_typed_agg" ->
      """SELECT l_returnflag AS flag,
        |       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
        |         AS BIGINT) AS sum_cents
        |FROM lineitem
        |GROUP BY l_returnflag
        |ORDER BY flag ASC""".stripMargin,
    // legitimate for a sketch: exact regime (maxItemsTracked >> domain)
    "q_approx_topk" ->
      """SELECT user_id, count(*) AS cnt
        |FROM events
        |GROUP BY user_id
        |ORDER BY cnt DESC, user_id ASC
        |LIMIT 10""".stripMargin,
    "q_agg_wmedian" ->
      """WITH t AS (
        |  SELECT o_orderpriority, o_orderkey,
        |         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
        |         1 + o_orderkey % 5 AS wt
        |  FROM orders),
        |c AS (
        |  SELECT *,
        |         sum(wt) OVER (PARTITION BY o_orderpriority
        |                       ORDER BY cents ASC, o_orderkey ASC
        |                       ROWS UNBOUNDED PRECEDING) AS cum,
        |         sum(wt) OVER (PARTITION BY o_orderpriority) AS tot
        |  FROM t),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |                               ORDER BY cum ASC, o_orderkey ASC) AS rn
        |  FROM c WHERE cum * 2 >= tot)
        |SELECT o_orderpriority, cents AS wmedian_cents,
        |       CAST(tot AS BIGINT) AS total_weight
        |FROM r WHERE rn = 1
        |ORDER BY o_orderpriority ASC""".stripMargin,
    "q_agg_histogram" ->
      """WITH c AS (
        |  SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |           AS cents
        |  FROM orders)
        |SELECT cents // 500000 AS bin,
        |       count(*) AS n_orders,
        |       min(cents) AS min_cents,
        |       max(cents) AS max_cents,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents,
        |       bin * 500000 AS bin_lo_cents
        |FROM c
        |GROUP BY bin
        |ORDER BY bin ASC""".stripMargin,
    "q_agg_unpivot" ->
      """WITH wide AS (
        |  SELECT l_returnflag,
        |         CAST(count(*) AS BIGINT) AS n_rows,
        |         CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
        |         CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_returnflag, 'n_rows' AS metric, n_rows AS value FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'n_parts', n_parts FROM wide
        |UNION ALL
        |SELECT l_returnflag, 'n_supps', n_supps FROM wide
        |ORDER BY l_returnflag ASC, metric ASC""".stripMargin,
    "q_agg_median_mode" ->
      """WITH med AS (
        |  SELECT l_returnflag,
        |         round(quantile_cont(l_quantity, 0.5), 4) AS median_qty,
        |         count(*) AS cnt
        |  FROM lineitem GROUP BY l_returnflag),
        |c AS (
        |  SELECT l_returnflag, l_quantity, count(*) AS c
        |  FROM lineitem GROUP BY l_returnflag, l_quantity),
        |m AS (
        |  SELECT l_returnflag, l_quantity AS mode_qty, c AS mode_cnt,
        |         row_number() OVER (PARTITION BY l_returnflag
        |                            ORDER BY c DESC, l_quantity ASC) AS rn
        |  FROM c)
        |SELECT med.l_returnflag, median_qty, cnt, mode_qty, mode_cnt
        |FROM med JOIN m ON med.l_returnflag = m.l_returnflag AND rn = 1
        |ORDER BY med.l_returnflag ASC""".stripMargin,
    "q_topk_groups" ->
      """SELECT user_id, count(*) AS cnt
        |FROM events
        |GROUP BY user_id
        |ORDER BY cnt DESC, user_id ASC
        |LIMIT 10""".stripMargin,
    "q_agg_global" ->
      """SELECT count(*) AS cnt,
        |       count(DISTINCT l_orderkey) AS n_orders,
        |       strftime(min(l_shipdate), '%Y-%m-%d') AS min_ship,
        |       strftime(max(l_shipdate), '%Y-%m-%d') AS max_ship,
        |       round(sum(l_extendedprice), 2) AS sum_price,
        |       round(avg(l_quantity), 2) AS avg_qty
        |FROM lineitem""".stripMargin,
    "q_agg_groupby" ->
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge,
        |       round(avg(l_quantity), 2) AS avg_qty,
        |       round(avg(l_extendedprice), 2) AS avg_price,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS cnt
        |FROM lineitem
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag ASC, l_linestatus ASC""".stripMargin,
    "q_agg_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users,
        |       count(*) AS n_events
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type ASC""".stripMargin,
    "q_agg_having" ->
      """SELECT count(*) AS n_single_users
        |FROM (SELECT user_id FROM events
        |      GROUP BY user_id HAVING count(*) = 1)""".stripMargin,
    "q_agg_rollup" ->
      """SELECT r_name, n_name, count(*) AS n_cust,
        |       round(sum(c_acctbal), 2) AS sum_bal
        |FROM customer
        |JOIN nation ON c_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY r_name ASC NULLS FIRST, n_name ASC NULLS FIRST""".stripMargin,
    "q_agg_cube" ->
      """SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       count(*) AS cnt
        |FROM events
        |GROUP BY CUBE(event_type, day)
        |ORDER BY event_type ASC NULLS FIRST, day ASC NULLS FIRST""".stripMargin,
    "q_agg_pivot" ->
      """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
        |       round(sum(CASE WHEN event_type = 'click'    THEN value END), 2) AS click,
        |       round(sum(CASE WHEN event_type = 'error'    THEN value END), 2) AS error,
        |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2) AS purchase,
        |       round(sum(CASE WHEN event_type = 'signup'   THEN value END), 2) AS signup,
        |       round(sum(CASE WHEN event_type = 'view'     THEN value END), 2) AS view
        |FROM events
        |GROUP BY day
        |ORDER BY day ASC""".stripMargin,
    "q_udaf_wavg" ->
      """SELECT p_brand,
        |       round(sum(l_extendedprice * l_quantity) / sum(l_quantity), 2)
        |         AS wavg_price,
        |       count(*) AS cnt
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand
        |ORDER BY p_brand ASC""".stripMargin
  )
}
