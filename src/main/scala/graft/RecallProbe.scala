package graft

/** ANN quality-at-scale probe (round-10, VERDICT item 4): the scale
  * story so far certifies COST linearity (bucketed, not all-pairs) but
  * not retrieval QUALITY under the adaptive widths, which change with
  * corpus size by design (IVF list occupancy grows 250→25k vectors per
  * list from sf0.1 to 100×; knn_graph_ann's hyperplane widening bits go
  * 8→15 at 200k vectors). This measures, per fixture dir:
  *
  *  - probe-1 recall@5 (exactly q_sim_recall — the oracled query) and
  *    probe-2/probe-3 recall@5 (the standard recall lever at its next
  *    two notches, evaluated against the SAME brute-force truth via
  *    [[operators.Sim.recallAt5]]);
  *  - the k-NN graph mutuality rate (q_sim_knn_graph_ann's recip_pm),
  *    overall and per label — mutuality is the intrinsic quality signal
  *    an index build monitors when ground truth is unaffordable.
  *
  * Values, not timings — safe to read off replica dirs of any scale.
  * Prints one JSON line per dir; numbers land in BASELINE.md round-10.
  *
  * Usage: SPARK_DRIVER_MEM=24g sbt 'runMain graft.RecallProbe
  *   /root/testdata/sf0.1 /tmp/graft-sf1 /tmp/graft-sf10x'
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val dirs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/graft-sf1", "/tmp/graft-sf10x")
    val spark = Harness.builder()
      // replica-scale partitioning: see Headroom.main
      .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "512")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // The Sim operators below are called directly, not through
    // SparkEntry.queries, so the session needs the native functions.
    GraftExtensions.install(spark)

    dirs.foreach { d =>
      val nVec = spark.read.parquet(s"$d/embeddings.parquet").count()
      def recallOf(approx: org.apache.spark.sql.DataFrame): (Double, Long, Int) = {
        val rows = operators.Sim.recallAt5(spark, d, approx).collect()
        // A fixture too small to yield truth/query rows (<10 embeddings
        // or missing q_id rows) must not NaN/crash the sweep mid-run —
        // but the row COUNT rides in the output (n fields below), so a
        // structurally broken probe (0 rows) is distinguishable from a
        // fixture that genuinely measured zero recall.
        if (rows.isEmpty) (0.0, 0L, 0)
        else {
          val tot = rows.map(_.getAs[Long]("recall_at_5")).sum
          (tot.toDouble / (5.0 * rows.length),
            rows.map(_.getAs[Long]("recall_at_5")).min, rows.length)
        }
      }
      val (r1, r1min, r1n) = recallOf(
        operators.Sim.simIvfSearch(spark, d).select("q_id", "c_id"))
      val (r2, r2min, r2n) = recallOf(
        operators.Sim.simIvfProbe2(spark, d).select("q_id", "c_id"))
      val (r3, r3min, r3n) = recallOf(
        operators.Sim.simIvfProbe3(spark, d).select("q_id", "c_id"))
      val (rk, rkmin, rkn) = recallOf(
        operators.Sim.simIvfKmProbe2(spark, d).select("q_id", "c_id"))
      val kg = SparkEntry.queries("q_sim_knn_graph_ann")(spark, d).collect()
      val (mut, edges) = (kg.map(_.getAs[Long]("n_mutual")).sum,
        kg.map(_.getAs[Long]("n_edges")).sum)
      val pmRange =
        if (kg.isEmpty) (0L, 0L)
        else (kg.map(_.getAs[Long]("recip_pm")).min,
          kg.map(_.getAs[Long]("recip_pm")).max)
      println(
        f"""{"dir":"$d","n_vec":$nVec,"recall5_probe1":$r1%.3f,"recall5_probe1_min":$r1min,"recall5_probe1_n":$r1n,"recall5_probe2":$r2%.3f,"recall5_probe2_min":$r2min,"recall5_probe2_n":$r2n,"recall5_probe3":$r3%.3f,"recall5_probe3_min":$r3min,"recall5_probe3_n":$r3n,"recall5_km_probe2":$rk%.3f,"recall5_km_probe2_min":$rkmin,"recall5_km_probe2_n":$rkn,"kg_recip_pm":${mut * 1000 / math.max(edges, 1L)},"kg_recip_pm_label_min":${pmRange._1},"kg_recip_pm_label_max":${pmRange._2},"kg_edges":$edges}""")
    }
    spark.stop()
  }
}
