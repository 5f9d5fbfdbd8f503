package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task and job counts of the Spark jobs posted under one job group. */
final class Counters {
  val jobs, stages, singleTaskStages, tasks = new AtomicLong
  val taskRunMs, taskCpuNs, gcMs = new AtomicLong
  val shuffleReadBytes, shuffleWriteBytes, spillBytes = new AtomicLong
  val inputBytes, outputBytes = new AtomicLong

  def toMap: Map[String, Long] = Map(
    "jobs" -> jobs.get, "stages" -> stages.get,
    "single_task_stages" -> singleTaskStages.get, "tasks" -> tasks.get,
    "task_run_ms" -> taskRunMs.get, "task_cpu_ns" -> taskCpuNs.get,
    "gc_ms" -> gcMs.get, "shuffle_read_bytes" -> shuffleReadBytes.get,
    "shuffle_write_bytes" -> shuffleWriteBytes.get,
    "spill_bytes" -> spillBytes.get, "input_bytes" -> inputBytes.get,
    "output_bytes" -> outputBytes.get)
}

/** Attributes every job, stage and task to the job group that was set on
  * the posting thread, so the benchmark can count work per phase without
  * any hook inside the engine. Jobs posted without a group land in
  * "untagged". */
final class PhaseListener extends SparkListener {
  private val buckets = new ConcurrentHashMap[String, Counters]()
  private val stageBucket = new ConcurrentHashMap[Int, Counters]()
  private val sentinels = new AtomicLong

  def reset(): Unit = { buckets.clear(); stageBucket.clear() }

  def snapshot: Map[String, Map[String, Long]] = {
    val b = Map.newBuilder[String, Map[String, Long]]
    buckets.forEach((k, v) => b += k -> v.toMap)
    b.result()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    if (group == PhaseListener.SentinelGroup) sentinels.incrementAndGet()
    else {
      val c = buckets.computeIfAbsent(group, _ => new Counters)
      c.jobs.incrementAndGet()
      e.stageInfos.foreach(s => stageBucket.put(s.stageId, c))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageBucket.get(e.stageInfo.stageId)).foreach { c =>
      c.stages.incrementAndGet()
      if (e.stageInfo.numTasks == 1) c.singleTaskStages.incrementAndGet()
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageBucket.get(e.stageId)).foreach { c =>
      c.tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        c.taskRunMs.addAndGet(m.executorRunTime)
        c.taskCpuNs.addAndGet(m.executorCpuTime)
        c.gcMs.addAndGet(m.jvmGCTime)
        c.shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        c.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        c.spillBytes.addAndGet(m.diskBytesSpilled)
        c.inputBytes.addAndGet(m.inputMetrics.bytesRead)
        c.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      }
    }

  /** Blocks until every event posted before this call has been handled:
    * the listener bus is FIFO, so once a sentinel job's start arrives,
    * so have the events of all jobs that finished before it. */
  def drain(sc: SparkContext): Unit = {
    val before = sentinels.get()
    sc.setJobGroup(PhaseListener.SentinelGroup, "drain listener bus")
    try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis + 60000
    while (sentinels.get() <= before && System.currentTimeMillis < deadline)
      Thread.sleep(5)
  }
}

object PhaseListener {
  val SentinelGroup = "perfbench-sentinel"
}

/** One timed interval: workload, pass, query or stage, and phase spans
  * nest through `parent` (0 for the root). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startMs: Double, endMs: Double)

/** Times calls into the engine. When `on`, each call is also kept as a
  * span in memory, and phase calls set their job group so the
  * [[PhaseListener]] can attribute the jobs they post. */
final class Tracer(sc: SparkContext, origin: Long) {
  @volatile var on = false
  val spans = ArrayBuffer[Span]()
  private var lastId = 0

  private def ms(t: Long) = (t - origin) / 1e6

  /** Runs `body` with this span's id; returns its result and seconds. */
  def apply[T](name: String, kind: String, parent: Int,
      group: String = null)(body: Int => T): (T, Double) = {
    val traced = on
    val id = if (traced) { lastId += 1; lastId } else 0
    if (traced && group != null) sc.setJobGroup(group, name)
    val t0 = System.nanoTime()
    try {
      val r = body(id)
      (r, (System.nanoTime() - t0) / 1e9)
    } finally {
      val t1 = System.nanoTime()
      if (traced) {
        if (group != null) sc.clearJobGroup()
        spans += Span(id, parent, name, kind, ms(t0), ms(t1))
      }
    }
  }
}
