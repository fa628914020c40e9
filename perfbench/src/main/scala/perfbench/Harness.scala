package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.engine._
import graft.engine.functions.GraftExtensions

/** One call of one op: the builder `M.queries(op)(spark, dir)`, then the
  * action (`collect`) on the frame it returns. Times are wall nanoseconds;
  * `epochNs` anchors the call on the clock Spark stamps task events with,
  * so the tracer can fold task intervals into the call's span.
  */
final case class Call(id: String, op: String, layer: String, client: Int,
    sweep: Int, traced: Boolean, epochNs: Long, buildNs: Long, execNs: Long,
    hash: String, error: String) {
  def endEpochNs: Long = epochNs + buildNs + execNs

  def toMap: Map[String, Any] = Map("op" -> op, "layer" -> layer,
    "client" -> client, "sweep" -> sweep, "traced" -> traced,
    "build_s" -> buildNs / 1e9, "exec_s" -> execNs / 1e9, "hash" -> hash,
    "error" -> error)
}

/** The measuring process of one benchmark run. `run.py` builds the fixture,
  * launches this with `key=value` arguments, and turns the JSON it writes
  * into the run's metrics; correctness verdicts are made there too, from
  * the result hashes recorded here.
  *
  * Phases: set-up (session build with the engine's extensions, then one
  * untimed warm pass on every core, which also fills the session memo; on
  * one thread in traced runs), then the timed window on that session.
  * Batch workloads repeat whole passes of the op list on one thread; `serve` runs a closed loop of `clients`
  * threads on that one session, each drawing its next op from a seeded
  * shuffle of the list once its previous op has completed. The window lasts
  * `seconds` and at least `minOps` ops. With `trace=1` the [[Tracer]] is
  * attached for the whole window and every other pass (batch) or every
  * other call of a client (serve) is traced; the calls in between are not
  * tagged, so the two kinds, interleaved, give the tracing overhead.
  */
object Harness {

  /** Engine modules in the order they are searched for an op's owner: a
    * query belongs to the module whose `queries` map declares it. */
  val modules: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] =
    Seq("Ingest" -> Ingest.queries, "Scalar" -> Scalar.queries,
      "Relational" -> Relational.queries, "Aggregates" -> Aggregates.queries,
      "Windows" -> Windows.queries, "Subqueries" -> Subqueries.queries,
      "Events" -> Events.queries, "Text" -> Text.queries,
      "Vectors" -> Vectors.queries, "Multimodal" -> Multimodal.queries,
      "Analytics" -> Analytics.queries)

  /** The owning module's name and the op's builder. */
  def owner(op: String): (String, (SparkSession, String) => DataFrame) =
    modules.collectFirst { case (m, q) if q.contains(op) => (m, q(op)) }
      .getOrElse(throw new IllegalArgumentException(s"unknown op $op"))

  def session(cpus: Int, workdir: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .withExtensions(new GraftExtensions)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.local.dir", s"$workdir/spark-local")
      .config("spark.sql.warehouse.dir", s"$workdir/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Canonical text of a result value: order-free maps, hex binaries, and
    * nested rows and arrays spelled out, so equal results hash equal. */
  def canon(v: Any): String = v match {
    case null => "∅"
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case b: Array[Byte] => java.util.HexFormat.of().formatHex(b)
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) + ":" + canon(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case x => x.toString
  }

  /** Result hash: schema plus the sorted multiset of canonical rows. Row
    * order is left to the oracle compare, which checks it on the dump. */
  def digest(schema: StructType, rows: Array[Row]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    md.update(schema.catalogString.getBytes(UTF_8))
    rows.iterator.map(canon).toArray.sorted.foreach { s =>
      md.update('\n'.toByte); md.update(s.getBytes(UTF_8))
    }
    java.util.HexFormat.of().formatHex(md.digest()).take(20)
  }

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      .getProcessCpuTime

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def bytesUnder(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(bytesUnder).sum
    else if (f.isFile) f.length() else 0L

  def main(args: Array[String]): Unit = {
    val kv = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }
      .toMap
    val fixture = kv("fixture")
    val ops = kv("ops").split(",").toSeq
    val serve = kv("mode") == "serve"
    val clients = kv("clients").toInt
    val seconds = kv("seconds").toDouble
    val minOps = kv("minOps").toInt
    val trace = kv("trace") == "1"
    val seed = kv("seed").toLong
    val workdir = kv("workdir")
    val cpus = kv("cpus").toInt
    val dumpOps = kv.getOrElse("dumpOps", "").split(",").filter(_.nonEmpty).toSet
    val runner = new Runner(fixture, ops, seed)

    // Set-up: from process start (JVM, Spark context, session with the
    // engine's extensions) through the untimed warm pass, whose first calls
    // pay staging, plan compilation and the memo fill.
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime * 1000000L
    val spark = session(cpus, workdir)
    val warmCalls = runner.warm(spark, cpus, detectMemo = trace)
    val setupS = (Runner.epochNs() - t0) / 1e9

    val tracer = if (trace) Some(new Tracer) else None
    tracer.foreach(spark.sparkContext.addSparkListener)
    val cpu0 = processCpuNs()
    val measured = if (serve) runner.serve(spark, clients, seconds, minOps, tracer)
                   else runner.batch(spark, seconds, minOps, tracer)
    val cpuS = (processCpuNs() - cpu0) / 1e9
    tracer.foreach { tr =>
      tr.drain()
      spark.sparkContext.removeSparkListener(tr)
    }

    val pinnedMb = Checkpoints.storageBySlot(spark).values.sum / 1048576.0
    val fixtureBytes = bytesUnder(new File(fixture))
    val writeAmp = bytesUnder(new File(s"$workdir/tmp/graft_ingest")).toDouble /
      fixtureBytes
    // Oracle dumps: the last timed result of each requested op that has
    // oracle SQL, written untimed with that SQL for tools/check.py.
    val oracle = graft.SparkEntry.oracleSql.filter { case (op, _) =>
      dumpOps(op) && runner.lastResult.contains(op) }
    for (op <- oracle.keys; (schema, rows) <- runner.lastResult.get(op))
      spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"${kv("dump")}/$op")
    if (dumpOps.nonEmpty) {
      Files.createDirectories(Paths.get(kv("dump")))
      Files.write(Paths.get(s"${kv("dump")}/oracle_sql.json"),
        json.writeValueAsBytes(oracle))
    }
    spark.stop()
    val calib = Map("calib_single_s" -> Calib.singleCoreSec(),
      "calib_all_cores_s" -> Calib.allCoresSec())

    val record = Map(
      "setup_s" -> setupS,
      "warm_calls" -> warmCalls.map(_.toMap),
      "calls" -> measured.calls.map(_.toMap),
      "passes_s" -> measured.passes.map(_ / 1e9),
      "window_s" -> measured.wallNs / 1e9,
      "cpu_s" -> cpuS,
      "ops_per_pass" -> ops.size,
      "clients" -> (if (serve) clients else 1),
      "peak_rss_mb" -> peakRssMb(),
      "pinned_mb" -> pinnedMb,
      "write_amp" -> writeAmp,
      "fixture_bytes" -> fixtureBytes,
      "calibration" -> calib
    ) ++ tracer.map { tr =>
      Files.write(Paths.get(kv("spans")), tr.spans(measured.calls.filter(_.traced))
        .map(json.writeValueAsString(_) + "\n").mkString.getBytes(UTF_8))
      "layers" -> tr.layerMetrics(measured.calls.filter(_.traced),
        runner.memoized.toSet, warmCalls)
    }
    Files.write(Paths.get(kv("out")), json.writeValueAsBytes(record))
  }

  /** Writes the run record and spans; Scala maps, sequences and nulls as
    * JSON objects, arrays and nulls. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
}

/** What one timed window produced. */
final case class Window(calls: Seq[Call], passes: Seq[Long], wallNs: Long)

final class Runner(fixture: String, ops: Seq[String], seed: Long) {
  private val seq = new AtomicLong
  val lastResult =
    new scala.collection.concurrent.TrieMap[String, (StructType, Array[Row])]()
  /** Ops whose builder persisted new RDDs in the warm pass: the ones served
    * from the session memo afterwards (recorded in traced runs only). */
  val memoized = ArrayBuffer[String]()

  def call(spark: SparkSession, op: String, client: Int, sweep: Int,
      tag: String, tracer: Option[Tracer]): Call = {
    val id = s"$tag${seq.incrementAndGet()}"
    val (layer, build) = Harness.owner(op)
    val sc = spark.sparkContext
    tracer.foreach(_ => sc.setJobGroup(id, op))
    val e0 = Runner.epochNs()
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = build(spark, fixture)
      t1 = System.nanoTime()
      val rows = df.collect()
      val t2 = System.nanoTime()
      lastResult.put(op, (df.schema, rows))
      Call(id, op, layer, client, sweep, tracer.isDefined, e0, t1 - t0, t2 - t1,
        Harness.digest(df.schema, rows), null)
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        // the innermost cause names the failure; wrappers say "Boxed Exception"
        val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
        Call(id, op, layer, client, sweep, tracer.isDefined, e0,
          (if (t1 == t0) t2 else t1) - t0, if (t1 == t0) 0L else t2 - t1,
          null, root.getClass.getSimpleName + ": " +
            String.valueOf(root.getMessage).linesIterator.nextOption().getOrElse(""))
    } finally tracer.foreach(_ => sc.clearJobGroup())
  }

  /** One untimed pass over the op list, on `threads` threads (one per
    * core, as set-up work uses the whole host) that each take the next op
    * not yet taken. With `detectMemo` it runs on one thread, and an op
    * whose builder persisted new RDDs is recorded as memoized. */
  def warm(spark: SparkSession, threads: Int, detectMemo: Boolean): Seq[Call] =
    if (detectMemo) ops.map { op =>
      val before = spark.sparkContext.getPersistentRDDs.keySet
      val c = call(spark, op, 0, -1, "w", None)
      if ((spark.sparkContext.getPersistentRDDs.keySet -- before).nonEmpty)
        memoized += op
      c
    } else {
      val queue = new java.util.concurrent.ConcurrentLinkedQueue[String](ops.asJava)
      val calls = new java.util.concurrent.ConcurrentLinkedQueue[Call]()
      val ts = (0 until threads).map { t =>
        val th = new Thread(() => Iterator.continually(queue.poll())
          .takeWhile(_ != null)
          .foreach(op => calls.add(call(spark, op, t, -1, "w", None))))
        th.start()
        th
      }
      ts.foreach(_.join())
      calls.asScala.toSeq
    }

  def batch(spark: SparkSession, seconds: Double, minOps: Int,
      tracer: Option[Tracer]): Window = {
    val calls = ArrayBuffer[Call]()
    val passes = ArrayBuffer[Long]()
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    while (System.nanoTime() < deadline || calls.size < minOps) {
      val p0 = System.nanoTime()
      val traced = tracer.filter(_ => passes.size % 2 == 1)
      ops.foreach(op => calls += call(spark, op, 0, passes.size, "m", traced))
      passes += System.nanoTime() - p0
    }
    Window(calls.toSeq, passes.toSeq, System.nanoTime() - start)
  }

  /** Closed loop: each client sends its next op only when its previous one
    * completed. A sweep is one client's pass over a fresh seeded shuffle of
    * the list; only whole sweeps count as passes. Clients stop once the
    * window has run `seconds`, `minOps` ops have completed and every client
    * has finished a sweep. */
  def serve(spark: SparkSession, clients: Int, seconds: Double, minOps: Int,
      tracer: Option[Tracer]): Window = {
    val done = new AtomicLong
    val swept = new java.util.concurrent.atomic.AtomicInteger
    val start = System.nanoTime()
    val deadline = start + (seconds * 1e9).toLong
    def over = System.nanoTime() >= deadline && done.get >= minOps &&
      swept.get >= clients
    val results = (0 until clients).map { c =>
      val calls = ArrayBuffer[Call]()
      val sweeps = ArrayBuffer[Long]()
      val t = new Thread(() => {
        val rnd = new scala.util.Random(seed * 1000003L + c)
        var stopped = false
        while (!stopped) {
          val order = rnd.shuffle(ops)
          val s0 = System.nanoTime()
          val it = order.iterator
          while (!stopped && it.hasNext) {
            if (over) stopped = true
            else {
              val traced = tracer.filter(_ => calls.size % 2 == 1)
              calls += call(spark, it.next(), c, sweeps.size, "m", traced)
              done.incrementAndGet()
            }
          }
          if (!stopped) {
            if (sweeps.isEmpty) swept.incrementAndGet()
            sweeps += System.nanoTime() - s0
          }
        }
      })
      t.start()
      (t, calls, sweeps)
    }
    results.foreach(_._1.join())
    Window(results.flatMap(_._2).sortBy(_.epochNs), results.flatMap(_._3),
      System.nanoTime() - start)
  }
}

object Runner {
  private val anchorMs = System.currentTimeMillis()
  private val anchorNs = System.nanoTime()
  /** Wall clock in epoch nanoseconds with nanoTime resolution. */
  def epochNs(): Long = anchorMs * 1000000L + (System.nanoTime() - anchorNs)
}
