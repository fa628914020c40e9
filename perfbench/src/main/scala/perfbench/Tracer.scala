package perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.Success
import org.apache.spark.scheduler._

/** Folds Spark's job, stage and task events into the op call that caused
  * them. Every traced call tags its jobs with `setJobGroup(callId)`, so
  * attribution holds while several clients share one session; events of
  * untagged jobs are dropped on arrival. Events are kept in memory; the
  * per-layer metrics are computed when the run ends.
  */
final class Tracer extends SparkListener {
  final class Acc {
    val jobTimesMs = ArrayBuffer[Long]()
    val taskSpansMs = ArrayBuffer[(Long, Long)]()
    var busyMs, shuffleBytes, spillBytes, gcMs = 0L
    var inBytes, inRows, outBytes, retries, schedWaitMs = 0L
  }
  private val byCall = scala.collection.mutable.HashMap[String, Acc]()
  private val stageCall = scala.collection.mutable.HashMap[Int, String]()
  private val firstLaunch = scala.collection.mutable.HashMap[(Int, Int), Long]()
  @volatile private var events = 0L

  private def acc(id: String): Acc = byCall.getOrElseUpdate(id, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    events += 1
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .foreach { id =>
        acc(id).jobTimesMs += e.time
        e.stageIds.foreach(stageCall(_) = id)
      }
  }

  override def onTaskStart(e: SparkListenerTaskStart): Unit = synchronized {
    events += 1
    if (stageCall.contains(e.stageId)) {
      val k = (e.stageId, e.stageAttemptId)
      val t = e.taskInfo.launchTime
      if (firstLaunch.get(k).forall(_ > t)) firstLaunch(k) = t
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    events += 1
    stageCall.get(e.stageId).foreach { id =>
      val a = acc(id)
      val i = e.taskInfo
      a.taskSpansMs += ((i.launchTime, i.finishTime))
      a.busyMs += i.finishTime - i.launchTime
      if (i.attemptNumber > 0 || e.reason != Success) a.retries += 1
      Option(e.taskMetrics).foreach { m =>
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        a.outBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      events += 1
      val s = e.stageInfo
      for (id <- stageCall.get(s.stageId); sub <- s.submissionTime;
           first <- firstLaunch.get((s.stageId, s.attemptNumber())))
        acc(id).schedWaitMs += math.max(0L, first - sub)
    }

  /** Wait until the listener bus has delivered this run's events. */
  def drain(): Unit = {
    var last = -1L
    while (last != events) { last = events; Thread.sleep(300) }
  }

  /** Wall milliseconds of [from, to] during which none of `spans` ran. */
  private def idleMs(from: Double, to: Double, spans: Seq[(Long, Long)]): Double = {
    var covered = 0.0
    var reach = from
    for ((s, e) <- spans.sortBy(_._1)) {
      val lo = math.max(s.toDouble, reach)
      val hi = math.min(e.toDouble, to)
      if (hi > lo) { covered += hi - lo; reach = hi }
    }
    (to - from) - covered
  }

  private def buildJobs(c: Call, a: Acc): Int =
    a.jobTimesMs.count(_ * 1000000L <= c.epochNs + c.buildNs)

  /** Per-layer metrics of the traced calls, named `Layer.metric`. Every
    * engine module is reported, with zeros where the workload has no ops.
    * Checkpoints counts a builder call of a memoized op that launched no
    * job as a hit; derivations in the final warm pass (the memo fill) and
    * in the window make up `derive_s`. */
  def layerMetrics(calls: Seq[Call], memoized: Set[String],
      warmCalls: Seq[Call]): Map[String, Double] = synchronized {
    val mb = 1048576.0
    def a(c: Call): Acc = byCall.getOrElse(c.id, new Acc)
    val perLayer = Harness.modules.map(_._1).flatMap { layer =>
      val cs = calls.filter(_.layer == layer)
      val as = cs.map(a)
      Seq(
        "build_s" -> cs.map(_.buildNs).sum / 1e9,
        "exec_s" -> cs.map(_.execNs).sum / 1e9,
        "jobs" -> as.map(_.jobTimesMs.size).sum.toDouble,
        "tasks" -> as.map(_.taskSpansMs.size).sum.toDouble,
        "task_busy_s" -> as.map(_.busyMs).sum / 1e3,
        "driver_gap_s" -> cs.map { c =>
          idleMs(c.epochNs / 1e6, c.endEpochNs / 1e6, a(c).taskSpansMs.toSeq)
        }.sum / 1e3,
        "shuffle_mb" -> as.map(_.shuffleBytes).sum / mb,
        "spill_mb" -> as.map(_.spillBytes).sum / mb,
        "gc_s" -> as.map(_.gcMs).sum / 1e3
      ).map { case (k, v) => s"$layer.$k" -> v }
    }
    val all = calls.map(a)
    val memoCalls = calls.filter(c => memoized(c.op))
    val misses = memoCalls.filter(c => buildJobs(c, a(c)) > 0)
    val fill = warmCalls.filter(c => memoized(c.op))
    (perLayer ++ Seq(
      "Tables.scan_mb" -> all.map(_.inBytes).sum / mb,
      "Tables.scan_rows" -> all.map(_.inRows).sum.toDouble,
      "Ingest.write_mb" -> all.map(_.outBytes).sum / mb,
      "Checkpoints.derive_s" -> (fill ++ misses).map(_.buildNs).sum / 1e9,
      "Checkpoints.hit_ratio" -> (if (memoCalls.isEmpty) 0.0
        else (memoCalls.size - misses.size).toDouble / memoCalls.size),
      "driver.sched_wait_s" -> all.map(_.schedWaitMs).sum / 1e3,
      "driver.task_retries" -> all.map(_.retries).sum.toDouble
    )).toMap
  }

  /** One op span per call with `build` and `exec` children; all three
    * share the call id. Self time of the op span is what its children do
    * not cover (result hashing and bookkeeping). */
  def spans(calls: Seq[Call]): Seq[Map[String, Any]] = synchronized {
    calls.flatMap { c =>
      val a = byCall.getOrElse(c.id, new Acc)
      val b1 = c.epochNs + c.buildNs
      Seq(
        Map("id" -> c.id, "parent" -> null, "name" -> c.op, "layer" -> c.layer,
          "client" -> c.client, "start_ns" -> c.epochNs,
          "end_ns" -> c.endEpochNs, "jobs" -> a.jobTimesMs.size,
          "tasks" -> a.taskSpansMs.size, "build_jobs" -> buildJobs(c, a)),
        Map("id" -> s"${c.id}.build", "parent" -> c.id, "name" -> "build",
          "layer" -> c.layer, "start_ns" -> c.epochNs, "end_ns" -> b1),
        Map("id" -> s"${c.id}.exec", "parent" -> c.id, "name" -> "exec",
          "layer" -> c.layer, "start_ns" -> b1, "end_ns" -> c.endEpochNs))
    }
  }
}

/** Host calibration walks, the same xorshift64 loops `graft.Bench` times
  * (copied, not imported, so the benchmark stays independent of it): one
  * 200M-step walk on one core, then the same walk on every core at once.
  * They move only with the host's effective speed, so a shift on unchanged
  * code can be told apart from a change in the program. */
object Calib {
  private def walk(seed: Long): Long = {
    var x = seed
    var i = 0
    while (i < 200000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    x
  }

  def singleCoreSec(): Double = {
    val t0 = System.nanoTime()
    if (walk(0x9E3779B97F4A7C15L) == 42L) System.err.println("")
    (System.nanoTime() - t0) / 1e9
  }

  def allCoresSec(): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until Runtime.getRuntime.availableProcessors()).map { k =>
      val t = new Thread(() =>
        if (walk(0x9E3779B97F4A7C15L + k) == 42L) System.err.println(""))
      t.start(); t
    }
    ts.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }
}
