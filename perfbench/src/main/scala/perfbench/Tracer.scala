package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: a SparkListener for jobs, stages, tasks and
  * cached blocks, and a QueryExecutionListener for Catalyst's phase times
  * (`qe.tracker`) and the shape of each executed plan. Only totals are
  * kept; the benchmark divides them by the passes it measured.
  *
  * A job started while an operation is being built (local property
  * [[Tracer.PhaseKey]] = "build") counts as a construction job. */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private val c = new ConcurrentHashMap[String, DoubleAdder]
  private def add(k: String, v: Double): Unit =
    c.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def get(k: String): Double = Option(c.get(k)).map(_.sum).getOrElse(0.0)

  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]
  private val storageNow = new AtomicLong
  private val storagePeak = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobStart.put(e.jobId, e.time)
    add("exec.jobs", 1)
    val phase = Option(e.properties).map(_.getProperty(PhaseKey)).orNull
    if (phase == "build") add("queries.build_jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach(t => add("exec.exec_s", (e.time - t) / 1e3))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    add("exec.stages", 1)
    stageSubmit.remove(e.stageInfo.stageId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("exec.tasks", 1)
    Option(stageSubmit.get(e.stageId)).foreach(t =>
      add("exec.task_wait_s", math.max(0L, e.taskInfo.launchTime - t) / 1e3))
    val m = e.taskMetrics
    if (m != null) {
      add("exec.task_s", m.executorRunTime / 1e3)
      add("exec.gc_s", m.jvmGCTime / 1e3)
      add("exec.shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / MB)
      add("exec.shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / MB)
      add("exec.spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / MB)
      add("exec.result_mb", m.resultSize / MB)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD) {
      val now = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
      val before = Option(blocks.put(b.blockId.name, now)).map(_.longValue).getOrElse(0L)
      val total = storageNow.addAndGet(now - before)
      storagePeak.getAndUpdate(p => math.max(p, total))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Double = phases.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    add("plans.analysis_s", ms("analysis") / 1e3)
    add("plans.optimizer_s", ms("optimization") / 1e3)
    add("plans.planning_s", ms("planning") / 1e3)
    add("plans.plan_s", (ms("analysis") + ms("optimization") + ms("planning")) / 1e3)
    val (sorts, exchanges) = Materialize.planShape(qe.executedPlan)
    add("plans.global_sorts", sorts)
    add("plans.exchanges", exchanges)
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def storagePeakMb: Double = storagePeak.get / MB

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  /** Detaches after the listener bus has delivered every queued event. */
  def detach(): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }
}

object Tracer {
  val PhaseKey = "perfbench.phase"
  val MB: Double = 1024.0 * 1024.0

  /** Waits until the listener bus is empty, so totals are complete. */
  def drain(spark: SparkSession): Unit = {
    // The bus is internal to Spark; reach it reflectively.
    val bus = classOf[org.apache.spark.SparkContext].getMethod("listenerBus").invoke(spark.sparkContext)
    bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, java.lang.Long.valueOf(30000L))
  }
}
