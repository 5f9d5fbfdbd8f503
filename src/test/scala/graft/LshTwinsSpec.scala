package graft

import org.apache.spark.sql.functions._

/** The round-7 LSH-fed scale twins: equality with their all-pairs
  * originals on the fixture (the recall arguments in Dedup.scaladoc made
  * measurable), candidate-stream invariants (blocked, deduped, ordered),
  * and non-degeneracy of the repaired MinHash parameter family. */
class LshTwinsSpec extends SparkSpec {

  private def rows(name: String, sf: String): Seq[String] =
    SparkEntry.queries(name)(spark, sf).collect().map(_.toString).toSeq

  // The twins' equality with their all-pairs originals rests on
  // fixture-MEASURED recall bounds (e.g. contain's top-100 cutoff at
  // J=0.207 vs the 64-band escape probability (1-J)^64) — so the
  // equality is pinned at EVERY fixture SF, not just the smallest: a
  // regenerated or larger fixture that invalidates the bound must
  // surface here as a test failure, not as a driver hash-gate mystery.
  private val allSfs = Seq(
    "/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1")

  test("q_dedup_jaccard_lsh equals the all-pairs q_dedup_jaccard top-100 at every fixture SF") {
    allSfs.foreach { sf =>
      assert(rows("q_dedup_jaccard_lsh", sf) == rows("q_dedup_jaccard", sf),
        s"jaccard twin diverged at $sf")
    }
  }

  test("q_dedup_contain_lsh equals the all-pairs q_dedup_contain top-100 at every fixture SF") {
    allSfs.foreach { sf =>
      assert(rows("q_dedup_contain_lsh", sf) == rows("q_dedup_contain", sf),
        s"contain twin diverged at $sf")
    }
  }

  test("blocked candidates never cross a (lang, source) block and are deduped") {
    val docs = Tables.documents(spark, sf0001)
    val cand = operators.Dedup.blockedLshCandidates(
      docs, Seq("lang", "source"), nGram = 1, numPerms = 32, bandRows = 2,
      estMin = 0.5)
    val d = docs.select(col("doc_id"), col("lang"), col("source"))
    val joined = cand
      .join(d.select(col("doc_id").as("a_id"), col("lang").as("la"),
        col("source").as("sa")), "a_id")
      .join(d.select(col("doc_id").as("b_id"), col("lang").as("lb"),
        col("source").as("sb")), "b_id")
    assert(joined.filter(col("la") =!= col("lb") ||
      col("sa") =!= col("sb")).count() == 0, "cross-block candidate leaked")
    assert(cand.filter(col("a_id") >= col("b_id")).count() == 0,
      "candidate ordering violated")
    assert(cand.count() == cand.distinct().count(), "duplicate candidates")
  }

  test("knn-graph ANN audit is deterministic and structurally sound") {
    val a = SparkEntry.queries("q_sim_knn_graph_ann")(spark, sf0001).collect()
    val b = SparkEntry.queries("q_sim_knn_graph_ann")(spark, sf0001).collect()
    assert(a.sameElements(b), "non-deterministic ANN graph")
    a.foreach { r =>
      val (nodes, edges, mutual, recip) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))
      assert(edges <= 3 * nodes, s"more than 3 edges per node: $r")
      assert(mutual <= edges && recip >= 0 && recip <= 1000, s"bad audit row: $r")
    }
  }

  test("minhash parameter family is non-degenerate (no shared multiplier ladder)") {
    // the broken family had a_i = A*(i+1): every ratio a_{i+1}/a_i was a
    // constant (i+2)/(i+1) structure mod p. The mixed family must give
    // pairwise-distinct parameters and no zero multipliers.
    val as = (0 until 64).map(functions.MinHashParams.a)
    val bs = (0 until 64).map(functions.MinHashParams.b)
    assert(as.distinct.size == 64 && bs.distinct.size == 64)
    assert(as.forall(a => a > 0 && a < functions.MinHashParams.P))
    // and signature agreement tracks true Jaccard on a constructed pair:
    // two 20-token sets sharing 18 tokens (J = 18/22 ≈ 0.82) must agree
    // on far more than the ~1/32 the degenerate ladder produced.
    import spark.implicits._
    val ta = (1 to 20).map(i => s"tok$i")
    val tb = (3 to 22).map(i => s"tok$i")
    val df = Seq(("a", ta), ("b", tb)).toDF("id", "sh")
      .withColumn("mh", expr("minhash_sigs(sh, 32)"))
    val m = df.collect().map(r => r.getString(0) ->
      r.getSeq[Long](r.fieldIndex("mh"))).toMap
    val agree = m("a").zip(m("b")).count(p => p._1 == p._2)
    assert(agree >= 20, s"agreement $agree/32 far below J=0.82 expectation")
  }
}
