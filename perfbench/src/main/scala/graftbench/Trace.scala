package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on the
  * same base as `System.currentTimeMillis` (which Spark's listener events
  * and streaming progress use).
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** In-memory spans at the layer boundaries the benchmark crosses:
  * workload → unit (rep, pass, stream) → call into a public graft
  * function → Spark job → stage. Spans are written once, at the end.
  *
  * While tracing is on, every call span tags the jobs it starts with a job
  * group naming the span, and a [[SparkListener]] plus a
  * [[QueryExecutionListener]] record jobs, stages and planning phases.
  * While it is off, `span` only runs its body: nothing is recorded and no
  * listener is attached.
  */
final class Tracer(sc: => SparkContext) {
  @volatile var on = false
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val plans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val jobStarts = new java.util.concurrent.ConcurrentHashMap[Int, SparkListenerJobStart]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStarts.put(e.jobId, e)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val s = jobStarts.remove(e.jobId)
      if (s != null) {
        val p = Option(s.properties)
        jobs.add(Map(
          "job" -> e.jobId, "start" -> s.time.toDouble, "end" -> e.time.toDouble,
          "group" -> p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).orNull,
          "batch" -> p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).orNull))
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      stages.add(Map(
        "stage" -> si.stageId,
        "job" -> Option(stageJob.get(si.stageId)).getOrElse(-1),
        "start" -> si.submissionTime.getOrElse(0L).toDouble,
        "end" -> si.completionTime.getOrElse(0L).toDouble,
        "tasks" -> si.numTasks,
        "task_run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "task_cpu_ms" -> (if (m == null) 0.0 else m.executorCpuTime / 1e6),
        "gc_ms" -> (if (m == null) 0L else m.jvmGCTime),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      if (phases.nonEmpty) plans.add(Map(
        "start" -> phases.values.map(_.startTimeMs).min.toDouble,
        "end" -> phases.values.map(_.endTimeMs).max.toDouble,
        "plan_ms" -> phases.values.map(p => p.endTimeMs - p.startTimeMs).sum.toDouble))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  def start(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
    on = true
  }

  def stop(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    on = false
  }

  /** Runs `body` traced when `traced`; listeners are attached only then. */
  def around[T](spark: SparkSession, traced: Boolean)(body: => T): T =
    if (!traced) body
    else {
      start(spark)
      try body finally stop(spark)
    }

  /** Waits until every listener event posted so far has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.sql.graftbridge.Bridge.waitListenerBusEmpty(spark)

  /** Runs `body` as a span; its jobs carry the span's id as job group. */
  def span[T](parent: Long, kind: String, name: String)(body: Long => T): T = {
    if (!on) return body(-1L)
    val id = ids.incrementAndGet()
    val prev = sc.getLocalProperty("spark.jobGroup.id")
    sc.setLocalProperty("spark.jobGroup.id", s"span-$id")
    val t0 = Clock.nowMs
    try body(id)
    finally {
      spans.add(Map("id" -> id, "parent" -> parent, "kind" -> kind, "name" -> name,
        "start" -> t0, "end" -> Clock.nowMs))
      sc.setLocalProperty("spark.jobGroup.id", prev)
    }
  }

  def dump: Map[String, Any] = Map(
    "spans" -> spans.asScala.toSeq, "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq, "plans" -> plans.asScala.toSeq)
}
