package graft

import org.apache.spark.sql.SparkSession

/** The one session builder of the engine's mains.
  *
  * [[builder]] applies the graded configuration Bench runs under —
  * `local[n]` with n from [[Calibrate.defaultParThreads]]
  * (SPARK_GRAFT_CPUS, else the host's processors), n shuffle partitions,
  * AQE on, UTC session time zone, UI off — plus the stall tolerances
  * below. Every main builds its session from it, so their numbers and
  * plans are graded-config numbers and plans. Smoke is the one exception:
  * it keeps a bare default session on purpose (see [[Smoke]]).
  *
  * Stall tolerances: the round-13 100× sweep lost an executor to a G1
  * full-collection stall that outlasted the 10 s default local-mode
  * heartbeat (Spark exit 56, HEARTBEAT_FAILURE, 63 min into the run). A
  * measurement harness must survive the stall it is trying to measure,
  * so every harness applies the same tolerances an at-capacity
  * production driver runs with.
  */
object Harness {
  def builder(): SparkSession.Builder = {
    val n = Calibrate.defaultParThreads.toString
    withStallTolerances(SparkSession.builder()
      .master(s"local[$n]")
      .config("spark.sql.shuffle.partitions", n)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
  }

  def withStallTolerances(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.executor.heartbeatInterval", "60s")
      .config("spark.network.timeout", "600s")
}
