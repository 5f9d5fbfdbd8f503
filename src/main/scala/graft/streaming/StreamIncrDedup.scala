package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.operators.Dedup

/** Streaming delta-ingest near-dup dedup (round 11): the production
  * composition of the two round-11 pieces — the PERSISTED corpus
  * signature/bucket artifact (Dedup.writeSigState / sigStatePath) and
  * the batch delta plan (Dedup.incrVerdictsFor). New documents arrive
  * as an unbounded file stream; each micro-batch is minhash-signatured
  * in-stream (narrow, O(batch)), bucket-joined against the STORED
  * corpus state, exact-Jaccard-verified against the corpus text store,
  * and the per-new-doc keep/drop verdicts land in a per-batch output
  * directory.
  *
  * Why foreachBatch and not a stream-static join chain: the verdict
  * needs a best-match-per-new-doc reduction (rank over candidates),
  * which is not expressible in append mode and would hold unbounded
  * state in update mode; but every new_id lives in exactly ONE
  * micro-batch, so the reduction is batch-local by construction —
  * foreachBatch runs the exact BATCH plan per trigger, which is also
  * what keeps stream ≡ batch parity provable (StreamIncrDedupSpec).
  *
  * Exactly-once: each batch writes mode("overwrite") into its own
  * `batch=<id>` subdirectory — a replayed batch id (post-crash restart
  * re-runs the last uncommitted trigger) overwrites its own partial
  * output instead of duplicating it, the standard idempotent
  * foreachBatch sink recipe; batch ids are checkpoint-stable. At
  * 100 TB the same plan runs per ingest window with the signature
  * artifact as a bucketed catalog table.
  */
object StreamIncrDedup {

  /** An unbounded stream of delta documents from a staging directory.
    * The schema is an explicit PARAMETER (readStream requires one), not
    * a batch read of the staging dir: a production staging dir's normal
    * initial state is EMPTY — deltas arrive after the stream starts —
    * and inferring from it would throw exactly then. [[run]] derives it
    * from the corpus documents table, the contract a delta must match
    * anyway. */
  def deltaStream(spark: SparkSession, stageDir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1") // one staged file per micro-batch
      .parquet(stageDir)

  /** Run the ingest stream over everything currently staged and stop
    * (Trigger.AvailableNow — the scheduled-ingest shape; a continuous
    * deployment drops the trigger). Returns the number of micro-batches
    * this invocation processed. */
  def run(spark: SparkSession, d: String, stageDir: String,
      ckptDir: String, sinkDir: String): Long = {
    graft.GraftExtensions.install(spark)
    val processed = new java.util.concurrent.atomic.AtomicLong(0L)
    val schema = graft.Tables.documents(spark, d).schema
    val q = deltaStream(spark, stageDir, schema).writeStream
      .option("checkpointLocation", ckptDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        processed.incrementAndGet()
        Dedup.incrVerdictsFor(spark, d, batch)
          .write.mode("overwrite").parquet(s"$sinkDir/batch=$batchId")
        ()
      }
      .start()
    q.awaitTermination()
    processed.get()
  }
}
