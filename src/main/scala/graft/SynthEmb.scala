package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Deterministic NON-replicated embedding fixture generator (round-11,
  * VERDICT item 1): the scale replicas that [[Headroom]] stitches are
  * structure-preserving by design — every rep carries a near-clone of
  * each base vector (+r·0.0011 per component), so a query's clones land
  * in its OWN IVF list and probe-1 recall 1.000 at 10×/100× is partly
  * an artifact of the replica geometry, not evidence that the adaptive
  * index widths preserve quality (BASELINE.md round-10 says so itself).
  *
  * This writes an `embeddings.parquet` with the SAME schema/domain as
  * the driver fixture (vec_id long, embedding array<float> dim 64,
  * label int 0..9) but formula-generated per vector — label-conditioned
  * pseudo-random directions from md5-seeded integer arithmetic, the
  * repo's standing determinism discipline (DetHash family):
  *
  *   u(s)      = conv(md5(s)[0,8), 16→10) / 2^31 − 1     ∈ [−1, 1)
  *   label(v)  = conv(md5("lbl:" v)[0,8), 16→10) mod 10
  *   emb(v)[i] = float( 0.7·u("ctr:" label ":" i) + 0.5·u("nz:" v ":" i) )
  *
  * Same-label vectors share the 0.7-weighted center direction (expected
  * intra-label cosine ≈ 0.66, cross-label ≈ 0) — clustered geometry with
  * genuine overlap and ZERO clone structure: every vector is unique and
  * new vectors at larger N are new points in the space, exactly what a
  * grown corpus looks like. Generation is a pure `spark.range(N)`
  * expression pipeline (no driver loop, no collected state), so the
  * same program generates 2e3 or 2e11 rows.
  *
  * Usage: sbt 'runMain graft.SynthEmb'  — writes three dirs,
  *   /tmp/graft-synth-base  (n=2,000  — the sf0.1 vector count)
  *   /tmp/graft-synth-10x   (n=20,000)
  *   /tmp/graft-synth-100x  (n=200,000)
  * then evaluate with `runMain graft.RecallProbe <dirs...>`.
  */
object SynthEmb {

  /** Uniform [−1,1) from the first 8 hex chars of md5(expr). */
  private def u(sql: String): String =
    s"(CAST(conv(substring(md5($sql), 1, 8), 16, 10) AS DOUBLE) / 2147483648.0D - 1.0D)"

  def generate(spark: SparkSession, n: Long, outDir: String): Unit = {
    val emb = spark.range(0, n, 1, 32)
      .withColumn("vec_id", col("id"))
      .withColumn("label",
        expr("CAST(conv(substring(md5(concat('lbl:', id)), 1, 8), 16, 10) % 10 AS INT)"))
      .withColumn("embedding", expr(
        "transform(sequence(0, 63), i -> CAST(" +
          "0.7D * " + u("concat('ctr:', label, ':', i)") +
          " + 0.5D * " + u("concat('nz:', id, ':', i)") + " AS FLOAT))"))
      .select(col("vec_id"), col("embedding"), col("label"))
    emb.write.mode("overwrite").parquet(s"$outDir/embeddings.parquet")
  }

  def main(args: Array[String]): Unit = {
    val sizes: Seq[(String, Long)] =
      if (args.nonEmpty) args.toSeq.map { a =>
        val Array(dir, n) = a.split('='); (dir, n.toLong)
      }
      else Seq("/tmp/graft-synth-base" -> 2000L,
        "/tmp/graft-synth-10x" -> 20000L,
        "/tmp/graft-synth-100x" -> 200000L)
    val spark = Harness.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    sizes.foreach { case (dir, n) =>
      generate(spark, n, dir)
      println(s"[synthemb] wrote $dir n=$n")
    }
    spark.stop()
  }
}
