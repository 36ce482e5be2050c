package perfbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files => JFiles, Paths}

import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo

import org.apache.spark.sql.SparkSession

import graft.PerfbenchSession
import graft.runtime.Trace

import Json.Obj
import Workloads.timed

/** One benchmark run in one JVM: session start, three input set-ups, one
  * untimed warm-up iteration whose outputs are checked, the workload's
  * plain warm-up iterations, then closed-loop timed iterations (one
  * client: the next starts when the previous one ends) until their timed
  * regions add up to `--seconds`; each must reproduce the checked outputs'
  * digest. With `--trace 1` every other timed iteration runs under a
  * [[Probe]]; the rest stay plain, so the tracing overhead is measured in
  * the same run.
  *
  * Writes the raw record (every iteration's timings, checks, digest and,
  * when traced, its engine events) as JSON to `--out`; `perfbench/run.py`
  * turns it into the reported metrics.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --work DIR --out FILE */
object Main {

  val Setups = 3

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def opt(k: String, default: String): String = opts.getOrElse(k, default)
    val workload = opts("workload")
    val seed = opt("seed", "42").toLong
    val seconds = opt("seconds", "10").toDouble
    val trace = opt("trace", "0") == "1"
    val work = opts("work")

    val record = scala.collection.mutable.ArrayBuffer[(String, Any)](
      "workload" -> workload, "seed" -> seed, "cpus" -> PerfbenchSession.cpus, "trace" -> trace)
    var spark: SparkSession = null
    HeapPeak.watch()
    try {
      val (s, sessionS, _, _) = timed(PerfbenchSession.start())
      spark = s
      Trace.startCollecting()
      val w = Workloads.of(workload, spark, seed, s"$work/inputs")
      val inputS = (1 to Setups).map(_ => timed(w.setup())._2)
      w.prepareChecks()
      // the first warm-up also runs the output checks: the extra work warms
      // the same driver code further, and every later iteration then only
      // needs to reproduce the checked digest
      val (warm, warmS, _, _) = timed(
        iteration(spark, w, s"$work/warm-up", traced = false, check = true) +:
          (1 to w.plainWarmups).map(i =>
            iteration(spark, w, s"$work/warm-up-$i", traced = false, check = false)))
      record ++= Seq("session_s" -> sessionS, "input_s" -> inputS, "warmup_s" -> warmS,
        "jit_setup_s" -> jitSeconds, "warmup" -> warm)
      val iters = scala.collection.mutable.ArrayBuffer.empty[Obj]
      var measured = 0.0
      var i = 0
      // in a traced run, traced and plain iterations alternate and at least
      // one of each runs, so the overhead is always measured
      while (measured < seconds || (trace && i < 2)) {
        i += 1
        val (it, elapsed, _, _) = timed(iteration(spark, w, s"$work/iter-$i",
          traced = trace && i % 2 == 1, check = false))
        iters += it
        // timed regions only, so digests and releases do not decide how
        // many iterations run; an iteration that threw counts whole
        measured += it.fields.collectFirst { case ("wall_s", secs: Double) => secs }
          .getOrElse(elapsed)
      }
      record ++= Seq("iterations" -> iters.toSeq, "prep_s" -> w.prepTime())
      w.teardown()
    } catch {
      case t: Throwable =>
        record += "fatal" -> stackTop(t)
    } finally {
      Trace.stopCollecting()
      record += "peak_heap_mb" -> HeapPeak.mb
      JFiles.write(Paths.get(opts("out")),
        Json.encode(Obj(record.toSeq)).getBytes(StandardCharsets.UTF_8))
      if (spark != null) spark.stop()
    }
  }

  /** One iteration in a fresh `dir`, deleted afterwards even when the
    * iteration throws; a throw is recorded as a failed iteration. */
  def iteration(spark: SparkSession, w: Workload, dir: String, traced: Boolean,
      check: Boolean): Obj = {
    Files.delete(dir)
    JFiles.createDirectories(Paths.get(dir))
    Trace.drain()
    val gc0 = gcSeconds
    try {
      val (o, probe) =
        if (traced) { val (o, p) = Probe.around(spark)(w.iterate(dir, check)); (o, Some(p)) }
        else (w.iterate(dir, check), None)
      val (ckptBytes, ckptFiles) = Files.usage(s"$dir/checkpoints")
      val (writtenBytes, _) = Files.usage(dir, Set("checkpoints", "pages"))
      val retained = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
      val mb = 1024.0 * 1024.0
      val layer = probe.toSeq.flatMap(_.counters(o.startMs, o.endMs)) ++ o.extra ++ Seq(
        "spark.gc_s" -> (gcSeconds - gc0),
        "runtime.ckpt_mb" -> ckptBytes / mb,
        "runtime.ckpt_files" -> ckptFiles.toDouble,
        "sources.written_mb" -> writtenBytes / mb,
        "spark.retained_cache_mb" -> retained / mb)
      Obj(Seq("traced" -> traced, "checked" -> check, "ok" -> o.problems.isEmpty,
        "problems" -> o.problems, "start_ms" -> o.startMs, "end_ms" -> o.endMs, "wall_s" -> o.wallS,
        "supersteps" -> o.supersteps, "edges" -> o.edges,
        "step_wall_s" -> o.stepWallS, "active_ratio" -> o.activeRatio,
        "digest" -> o.digest, "layer" -> layer.toMap,
        "jobs" -> probe.toSeq.flatMap(_.jobList(o.startMs, o.endMs))))
    } catch {
      case t: Throwable =>
        Obj(Seq("traced" -> traced, "ok" -> false, "problems" -> Seq(stackTop(t))))
    } finally Files.delete(dir)
  }

  private def stackTop(t: Throwable): String =
    (t.toString +: t.getStackTrace.take(8).map("  at " + _)).mkString("\n")

  private def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1000.0

  private def jitSeconds: Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1000.0
}

/** The highest heap occupancy right after a garbage collection, over the
  * whole run, in MiB: what the program held at its peak. Read right after
  * a collection it leaves out the garbage of the moment, so the heap and
  * young-generation sizes the JVM was given do not set it. */
object HeapPeak {
  @volatile private var peak = 0L

  def mb: Double = peak / (1024.0 * 1024.0)

  /** Follow every collection from now on. */
  def watch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, handback: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val after = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
            .getGcInfo.getMemoryUsageAfterGc.asScala
          val used = after.collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          synchronized { peak = math.max(peak, used) }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }
}
