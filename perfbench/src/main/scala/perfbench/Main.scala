package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{Calibrate, Harness, SparkEntry}
import graft.operators.Hints
import graft.sources.{OsmPipeline, OsmXml}

/** One benchmark run in one JVM with one `local[cores]` session.
  *
  * Sets the session up (build plus an untimed warm-up on the small
  * inputs), then runs `passes` closed-loop passes over the workload. Every
  * pass starts from evicted leaf memos, so passes are identical. Each query is split, from
  * outside the engine, into construction (the `SparkEntry` call), Catalyst
  * (forcing the executed plan) and execution (one action folding every
  * output row into a [[Fingerprint]]).
  *
  * With `trace=1` the first pass is untraced and the rest go traced,
  * untraced, untraced, traced. Traced passes record spans and per-phase
  * job counts, with the listener attached for those passes only; the
  * untraced ones after the first give the tracing overhead. All raw
  * measurements go to `out` as JSON; run.py turns them into metrics and
  * checks the outputs.
  */
object Main {

  // Each run of the benchmark gets well under a minute in total, and a cold
  // JVM pays roughly twice a warm pass in its warm-up, so each workload
  // keeps a subset of its family whose warm pass takes a few seconds.
  /** Construction-bound: a convergence loop (cc), single-task leaf stages
    * (pca_power) and persisted leaves built once per pass (the co-purchase
    * pairs under cc, the dedup label and shingle-set leaves, the text
    * vocabulary leaves). No two of them share a leaf, so the query order
    * does not decide which query pays for one. */
  val Iterative: Seq[String] = Seq(
    "q_graph_cc", "q_dedup_clusters", "q_emb_pca_power", "q_text_lm_ppl")

  /** Execution-bound report queries: joins, aggregates, windows and
    * recursion over the star, with no leaves. */
  val Report: Seq[String] = Seq(
    "q_tpch_q1", "q_tpch_q3", "q_tpch_q5", "q_tpch_q9", "q_tpch_q18",
    "q_tpch_q21", "q_sql_window", "q_sql_grouping_sets", "q_sql_recursive",
    "q_sql_merge")

  val StarTables: Seq[String] =
    Seq("nodes", "nodes_tags", "ways", "ways_tags", "ways_nodes")

  final case class Args(workload: String, seed: Long, passes: Int,
      trace: Boolean, data: String, osm: String,
      warmOsm: String, work: String, out: String, cores: Int)

  def parseArgs(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("passes").toInt,
      m("trace") == "1", m("data"), m("osm"), m("warm-osm"),
      m("work"), m("out"), m("cores").toInt)
  }

  def session(a: Args): SparkSession = {
    val s = Harness.withStallTolerances(
      SparkSession.builder()
        .master(s"local[${a.cores}]")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"${a.work}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
        .config("spark.hadoop.hadoop.tmp.dir", s"${a.work}/hadoop-tmp"))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** One query or pipeline stage of one pass. */
  final case class Sample(name: String, seconds: Double, phases: Map[String, Double],
      catalystMs: Map[String, Long], hash: String, result: Any, error: String)

  private def secs(t0: Long) = (System.nanoTime() - t0) / 1e9

  private def errorText(e: Throwable) =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** Construction, Catalyst and execution of one DataFrame-valued call.
    * The execution phase fingerprints the output, or with `collect`
    * returns its rows for a check by value. */
  private def timedQuery(tr: Tracer, name: String, parent: Int,
      collect: Boolean = false)(build: => DataFrame): Sample = {
    val t0 = System.nanoTime()
    var phases = Map.empty[String, Double]
    def phase[T](p: String, qs: Int)(body: => T): T = {
      val (r, s) = tr(p, "phase", qs, p)(_ => body)
      phases += p -> s
      r
    }
    try {
      val (s, _) = tr(name, "query", parent) { qs =>
        val df = phase("construct", qs)(build)
        val plan = phase("catalyst", qs)(df.queryExecution.executedPlan)
        val (hash, result) = phase("exec", qs) {
          if (collect) (null, rowsOf(df))
          else (Fingerprint.of(df.queryExecution.toRdd,
            plan.output.map(_.dataType).toArray).show, null)
        }
        val tracker = df.queryExecution.tracker.phases.map { case (k, v) => k -> v.durationMs }
        Sample(name, 0, phases, tracker, hash, result, null)
      }
      s.copy(seconds = secs(t0))
    } catch { case NonFatal(e) =>
      Sample(name, secs(t0), phases, Map.empty, null, null, errorText(e))
    }
  }

  /** A pipeline stage that is one engine call, with construction and
    * execution inside it; it counts as `layer` and its jobs are kept in
    * their own bucket "layer/name". */
  private def timedStage(tr: Tracer, name: String, parent: Int, layer: String)(
      body: => Any): Sample = {
    val t0 = System.nanoTime()
    try {
      val (r, s) = tr(name, "stage", parent, s"$layer/$name")(_ => body)
      Sample(name, s, Map(layer -> s), Map.empty, null, r, null)
    } catch { case NonFatal(e) =>
      Sample(name, secs(t0), Map.empty, Map.empty, null, null, errorText(e))
    }
  }

  def queryPass(spark: SparkSession, names: Seq[String], dir: String,
      tr: Tracer, parent: Int): Seq[Sample] =
    names.map(n => timedQuery(tr, n, parent)(SparkEntry.queries(n)(spark, dir)))

  private def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.toSeq
      case v => v
    })

  /** The paper's pipeline: census, ingest (construction only), the
    * cleaning ETL with its parquet write, and the report over the
    * written star. */
  def osmPass(spark: SparkSession, xml: String, outDir: String,
      tr: Tracer, parent: Int): Seq[Sample] = {
    val census = timedStage(tr, "census", parent, "exec") {
      OsmPipeline.tagCensus(spark, xml)
    }
    val load = timedStage(tr, "load_star", parent, "construct") {
      OsmXml.loadStar(spark, xml).map { case (t, df) =>
        t -> df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}").toSeq }
    }
    val process = timedStage(tr, "process_map", parent, "exec") {
      OsmPipeline.processMap(spark, xml, outDir)
      StarTables.map(t => t -> spark.read.parquet(s"$outDir/$t").count()).toMap
    }
    val (report, _) = tr("report", "stage", parent) { rs =>
      lazy val star = StarTables.map(t => t -> spark.read.parquet(s"$outDir/$t")).toMap
      Seq(
        timedQuery(tr, "audit_street_types", rs, collect = true)(
          OsmPipeline.auditStreetTypes(star("nodes_tags").unionByName(star("ways_tags")))),
        timedQuery(tr, "top_contributors", rs, collect = true)(
          OsmPipeline.topContributors(star)),
        timedQuery(tr, "top_amenities", rs, collect = true)(
          OsmPipeline.topAmenities(star)),
        timedStage(tr, "contributor_count", rs, "exec")(OsmPipeline.contributorCount(star)))
    }
    Seq(census, load, process) ++ report
  }

  /** Runs every query once on the timed tables, or the pipeline once on
    * a small XML, so that code generation and the JIT are warm before
    * timing: warmed on smaller tables, the first query of a pass ran up to
    * 0.9 s slower than later ones, so the seed's order decided its
    * latency. Queries are independent, so they run `cores` at a time; the
    * pipeline stages depend on each other and run in order. */
  def warmUp(spark: SparkSession, a: Args, order: Seq[String]): Seq[Sample] = {
    val tr = new Tracer(spark.sparkContext, System.nanoTime())
    if (a.workload == "osm_wrangle")
      osmPass(spark, a.warmOsm, s"${a.work}/warm-star", tr, 0)
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(a.cores)
      try {
        val runs = order.map(n => pool.submit(() =>
          timedQuery(tr, n, 0)(SparkEntry.queries(n)(spark, a.data))))
        runs.map(_.get())
      } finally pool.shutdown()
    }
  }

  def main(argv: Array[String]): Unit = {
    val a = parseArgs(argv)
    val origin = System.nanoTime()
    val runOsm = a.workload == "osm_wrangle"
    val names = a.workload match {
      case "iterative" => Iterative
      case "report" => Report
      case "osm_wrangle" => Nil
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    // The seed fixes the query order for the whole run; every pass uses it.
    // (Mixed first: java.util.Random orders adjacent seeds alike.)
    val order = new scala.util.Random(new java.util.SplittableRandom(a.seed).nextLong())
      .shuffle(names)
    def pass(spark: SparkSession, tr: Tracer, parent: Int): Seq[Sample] =
      if (runOsm) osmPass(spark, a.osm, s"${a.work}/star", tr, parent)
      else queryPass(spark, order, a.data, tr, parent)

    val loadStart = loadavg()
    val t0 = System.nanoTime()
    val spark = session(a)
    val warm = warmUp(spark, a, order)
    Hints.evictAllMemos()
    val setupS = secs(t0)
    warm.filter(_.error != null).foreach(s =>
      System.err.println(s"[perfbench] warm-up ${s.name}: ${s.error}"))
    val sc = spark.sparkContext
    val tr = new Tracer(sc, origin)
    val listener = new PhaseListener

    val passes = ArrayBuffer[Map[String, Any]]()
    tr.on = a.trace
    tr(a.workload, "workload", 0) { ws =>
      while (passes.size < a.passes) {
        // After the first pass, traced and untraced passes go T U U T, so
        // both sit at the same mean position while passes speed up.
        val traced = a.trace && passes.nonEmpty && Set(0, 3)((passes.size - 1) % 4)
        tr.on = traced
        Hints.evictAllMemos()
        if (traced) {
          // Attached only around traced passes, so untraced ones run as
          // in a --trace 0 run; the drain flushes events from before.
          sc.addSparkListener(listener)
          listener.drain(sc)
          listener.reset()
        }
        val (samples, passS) = tr(s"pass${passes.size + 1}", "pass", ws)(ps => pass(spark, tr, ps))
        tr.on = a.trace
        val counters = if (traced) {
          listener.drain(sc)
          sc.removeSparkListener(listener)
          listener.snapshot
        } else Map.empty
        passes += Map(
          "traced" -> traced, "pass_s" -> passS, "samples" -> samples,
          "cached_bytes" -> sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum,
          "persisted_rdds" -> sc.getPersistentRDDs.size,
          "counters" -> counters)
        System.err.println(f"[perfbench] ${a.workload} pass ${passes.size} traced=$traced $passS%.3f s")
      }
    }
    tr.on = false

    val conf = spark.conf
    val confInEffect = Map(
      "master" -> sc.master,
      "cores" -> a.cores,
      "default_parallelism" -> sc.defaultParallelism,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "initial_partition_num" ->
        conf.getOption("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
          .getOrElse("unset (shuffle partitions)"),
      "broadcast_threshold" -> conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "heartbeat_interval" -> sc.getConf.get("spark.executor.heartbeatInterval"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory)
    Hints.evictAllMemos()
    spark.stop()
    val calib = Calibrate.run().seconds
    val calibAll = Calibrate.runParallel(a.cores)
    val report = Map(
      "workload" -> a.workload, "seed" -> a.seed, "order" -> order,
      "trace" -> a.trace,
      "setup_s" -> setupS, "passes" -> passes,
      "spans" -> tr.spans.map(s => Map("id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "kind" -> s.kind, "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "context" -> Map(
        "conf" -> confInEffect,
        "calibration_serial_s" -> calib,
        "calibration_all_core_s" -> calibAll,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg()))
    val w = new java.io.PrintWriter(a.out)
    try w.write(new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(report))
    finally w.close()
  }

  private def loadavg(): String =
    try {
      val s = scala.io.Source.fromFile("/proc/loadavg")
      try s.mkString.trim.split(" ").take(3).mkString(" ") finally s.close()
    } catch { case NonFatal(_) => "" }
}
