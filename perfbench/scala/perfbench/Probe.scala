package perfbench

import scala.collection.mutable

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine-side events of one traced iteration. Registered only for the
  * iteration it measures ([[Probe.around]] removes it in a `finally`), so no
  * listener outlives its iteration. Events keep their timestamps, and
  * [[counters]] keeps only those inside the timed region, so the untimed
  * preparation and output checks around it do not count. Callbacks arrive
  * on the listener-bus thread; reads happen after `PerfbenchBus.drain`. */
final class Probe extends SparkListener with QueryExecutionListener {

  private final case class Job(start: Long, var end: Long, site: String, declared: String)
  private final case class Task(launch: Long, stage: Int, ms: Long, failed: Boolean,
      shuffleWrite: Long, shuffleRead: Long, spill: Long)

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val executionSites = mutable.HashMap.empty[Long, String]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val queries = mutable.ArrayBuffer.empty[(Long, Double)]
  private val cached = mutable.ArrayBuffer.empty[(Long, Long)]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cachedBytes = 0L

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { executionSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // a job of a SQL execution takes the call site of the action that
    // started the execution: adaptive query stages run their jobs on pool
    // threads whose own call site holds no user frame
    val execution = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
      .flatMap(_.toLongOption)
    // else the job's own (highest-id) stage carries its call site; lower ids
    // may be shuffle stages another action created
    val site = execution.flatMap(executionSites.get).getOrElse(
      if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details)
    val declared = Option(e.properties).map(_.getProperty(Probe.ModuleKey)).orNull
    jobs(e.jobId) = Job(e.time, e.time, site, declared)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = Option(e.taskMetrics)
    tasks += Task(e.taskInfo.launchTime, e.stageId, e.taskInfo.duration, e.reason != Success,
      m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
      m.map(_.shuffleReadMetrics.totalBytesRead).getOrElse(0L),
      m.map(x => x.memoryBytesSpilled + x.diskBytesSpilled).getOrElse(0L))
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
      cachedBytes += size - rddBlocks.getOrElse(key, 0L)
      if (size > 0) rddBlocks(key) = size else rddBlocks.remove(key)
      cached += ((System.currentTimeMillis(), cachedBytes))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val phases = qe.tracker.phases.values
      val start = if (phases.isEmpty) System.currentTimeMillis() else phases.map(_.startTimeMs).min
      queries += ((start, phases.map(_.durationMs).sum.toDouble))
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onSuccess(funcName, qe, 0L)

  /** (start ms, end ms, call site, declared module or null) of every job
    * overlapping [t0, t1]. */
  def jobList(t0: Long, t1: Long): Seq[Seq[Any]] = synchronized {
    jobs.values.filter(j => j.end >= t0 && j.start <= t1)
      .map(j => Seq(j.start, j.end, j.site, j.declared)).toSeq
  }

  /** Engine counters of [t0, t1], named as the benchmark reports them. */
  def counters(t0: Long, t1: Long): Seq[(String, Double)] = synchronized {
    val mb = 1024.0 * 1024.0
    val in = tasks.filter(t => t.launch >= t0 && t.launch <= t1)
    // skew of the stage that spent the most task time: max / median task
    val skew = in.groupBy(_.stage).values.filter(_.size > 1).maxByOption(_.map(_.ms).sum)
      .map { ts =>
        val s = ts.map(_.ms).sorted
        s.last.toDouble / math.max(1L, s(s.size / 2))
      }.getOrElse(1.0)
    val qs = queries.filter(q => q._1 >= t0 && q._1 <= t1)
    val peak = (cached.filter(c => c._1 >= t0 && c._1 <= t1).map(_._2) ++
      cached.filter(_._1 < t0).lastOption.map(_._2)).maxOption.getOrElse(0L)
    Seq(
      "spark.tasks" -> in.size.toDouble,
      "spark.failed_tasks" -> in.count(_.failed).toDouble,
      "spark.task_busy_s" -> in.map(_.ms).sum / 1000.0,
      "spark.shuffle_write_mb" -> in.map(_.shuffleWrite).sum / mb,
      "spark.shuffle_read_mb" -> in.map(_.shuffleRead).sum / mb,
      "spark.spill_mb" -> in.map(_.spill).sum / mb,
      "spark.task_skew" -> skew,
      "spark.cached_mb_peak" -> peak / mb,
      "catalyst.queries" -> qs.size.toDouble,
      "catalyst.planning_ms" -> qs.map(_._2).sum)
  }
}

object Probe {
  /** Local property naming the module whose lazily built frame the harness
    * itself materializes: the action's call site then holds harness frames
    * only. */
  val ModuleKey = "perfbench.module"

  /** Run `f` with a fresh probe registered on `spark`; the probe is drained
    * and removed even when `f` throws. */
  def around[T](spark: SparkSession)(f: => T): (T, Probe) = {
    val sc: SparkContext = spark.sparkContext
    val p = new Probe
    sc.addSparkListener(p)
    spark.listenerManager.register(p)
    try {
      val r = f
      org.apache.spark.PerfbenchBus.drain(sc)
      (r, p)
    } finally {
      spark.listenerManager.unregister(p)
      sc.removeSparkListener(p)
    }
  }
}
