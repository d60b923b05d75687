package perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import com.sun.management.GarbageCollectionNotificationInfo

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One benchmark run in one fresh JVM: set up a session the way
  * `graft.Bench` does, then issue query keys one at a time from a single
  * client (closed loop), pass after pass, in the orders `--passes` gives
  * (`;` between passes, `,` between keys). The first pass is the cold
  * pass; the others are warm passes.
  *
  * Every key is timed from the builder call to its collected result, in
  * three calls: the builder (`queries`), `queryExecution.executedPlan`
  * (`catalyst`) and `collect()` (`exec`). The digest of the result is
  * computed after the timer stops.
  *
  * With `--trace 1`, Spark's public listeners record job, stage and
  * streaming-batch events in memory. They are attached on the cold pass
  * and on every other warm pass, so traced and untraced warm passes of
  * one JVM can be compared. The run writes one JSON file (`--out`) with
  * the setup times, one record per key execution and, when traced, the
  * listener events and per-pass registry snapshots.
  *
  *   Harness --data DIR --passes k1,k2;k2,k1;.. --trace 0|1 --out FILE
  */
object Harness {

  private def epochMs(): Double = System.currentTimeMillis().toDouble

  final case class KeyRun(pass: Int, traced: Boolean, key: String,
      startMs: Double, buildS: Double, planS: Double, execS: Double,
      rows: Long, digest: String, error: String,
      phases: Map[String, (Long, Long)])

  /** Listener events kept in memory; serialised once the run ends. */
  final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[String]()
    val stages = new ConcurrentLinkedQueue[String]()
    val batches = new ConcurrentLinkedQueue[String]()
    private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Seq[Int])]()
    val events = new java.util.concurrent.atomic.AtomicLong

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      jobStart.put(e.jobId, (e.time, e.stageIds))
      events.incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, stageIds) = Option(jobStart.remove(e.jobId)).getOrElse((e.time, Nil))
      jobs.add(s"""{"job":${e.jobId},"start_ms":$start,"end_ms":${e.time},""" +
        s""""stages":${stageIds.mkString("[", ",", "]")}}""")
      events.incrementAndGet()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val m = si.taskMetrics
      val fields =
        if (m == null) ""
        else
          s""","run_ms":${m.executorRunTime},"cpu_ns":${m.executorCpuTime},""" +
            s""""gc_ms":${m.jvmGCTime},"input_bytes":${m.inputMetrics.bytesRead},""" +
            s""""output_bytes":${m.outputMetrics.bytesWritten},""" +
            s""""shuffle_read_bytes":${m.shuffleReadMetrics.totalBytesRead},""" +
            s""""shuffle_write_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
            s""""spill_bytes":${m.memoryBytesSpilled + m.diskBytesSpilled}"""
      stages.add(s"""{"stage":${si.stageId},"tasks":${si.numTasks}$fields}""")
      events.incrementAndGet()
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val start = java.time.Instant.parse(p.timestamp).toEpochMilli
        val d = p.durationMs.asScala.map { case (k, v) => s""""$k":$v""" }
          .mkString("{", ",", "}")
        val st = p.stateOperators.map { s =>
          s"""{"rows_updated":${s.numRowsUpdated},"update_ms":${s.allUpdatesTimeMs},""" +
            s""""commit_ms":${s.commitTimeMs},"memory_bytes":${s.memoryUsedBytes}}"""
        }.mkString("[", ",", "]")
        batches.add(s"""{"query":"${p.id}","batch":${p.batchId},"start_ms":$start,""" +
          s""""duration_ms":$d,"state":$st,"input_rows":${p.numInputRows}}""")
        events.incrementAndGet()
      }
    }

    /** The listener buses are asynchronous: wait until no event has
      * arrived for two consecutive 100 ms windows (capped at 10 s). */
    def drain(): Unit = {
      var prev = events.get; var quiet = 0; var spins = 0
      while (quiet < 2 && spins < 100) {
        Thread.sleep(100)
        val now = events.get
        if (now == prev) quiet += 1 else { quiet = 0; prev = now }
        spins += 1
      }
    }
  }

  /** Files and bytes under the given run-owned roots, with the number of
    * committed registry artifacts and sidecars (`_built` markers). */
  private def scanDirs(roots: Seq[String]): (Long, Long, Long) = {
    var files = 0L; var bytes = 0L; var built = 0L
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else if (f.isFile) {
        files += 1; bytes += f.length()
        if (f.getName == "_built") built += 1
      }
    roots.distinct.map(new File(_)).foreach(walk)
    (files, bytes, built)
  }

  private def jstr(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  /** The largest Java heap occupancy left after a garbage collection. The
    * heap is pre-touched, so the process's VmHWM shows the heap's size,
    * not how much of it the program keeps live. */
  final class HeapAfterGc extends NotificationListener {
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val peak = new java.util.concurrent.atomic.AtomicLong
    val collections = new java.util.concurrent.atomic.AtomicLong

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peak.accumulateAndGet(used, (a: Long, b: Long) => math.max(a, b))
        collections.incrementAndGet()
      }

    def install(): Unit = ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
  }

  private def vmHwmKb(): Long =
    try {
      scala.io.Source.fromFile("/proc/self/status").getLines()
        .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    } catch { case NonFatal(_) => 0L }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val dataDir = new File(opt("data")).getAbsolutePath
    val passOrders = opt("passes").split(";").toVector.map(_.split(",").toVector)
    val trace = opt("trace") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val heapAfterGc = new HeapAfterGc
    if (trace) heapAfterGc.install()

    // ---- setup: session as graft.Bench builds it, then touch each table
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.Logs.quietNoisy()
    val sessionReadyMs = epochMs()
    val t0 = System.nanoTime()
    val touched = graft.Tables.names.map { n =>
      val a = System.nanoTime()
      graft.Tables(spark, dataDir, n).count()
      n -> (System.nanoTime() - a) / 1e9
    }
    val warmupS = (System.nanoTime() - t0) / 1e9
    val setupEndMs = epochMs()

    val fns = passOrders.flatten.distinct.map(k => k -> graft.SparkEntry.queries(k)).toMap
    val rec = new Recorder
    val registryRoot = graft.queries.core.registryRoot
    val scratchRoots = Seq(sys.props("java.io.tmpdir"), registryRoot)
    def attach(on: Boolean): Unit =
      if (on) {
        spark.sparkContext.addSparkListener(rec); spark.streams.addListener(rec.streams)
      } else {
        spark.sparkContext.removeSparkListener(rec); spark.streams.removeListener(rec.streams)
      }

    val runs = ArrayBuffer[KeyRun]()
    val passes = ArrayBuffer[String]()
    def runKey(pass: Int, traced: Boolean, key: String): Unit = {
      val startMs = epochMs()
      val a = System.nanoTime()
      var b = a; var c = a; var d = a
      var rows: Array[Row] = null
      var err: String = null
      var phases = Map.empty[String, (Long, Long)]
      try {
        val df = fns(key)(spark, dataDir)
        b = System.nanoTime()
        df.queryExecution.executedPlan
        c = System.nanoTime()
        rows = df.collect()
        d = System.nanoTime()
        phases = df.queryExecution.tracker.phases.map { case (k, v) => k -> (v.startTimeMs, v.endTimeMs) }
      } catch {
        case NonFatal(e) =>
          val now = System.nanoTime()
          if (b == a) b = now; if (c == a) c = now; d = now
          err = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"
      }
      val digest =
        if (rows == null) null else graft.GoldenGen.digest(rows.sortBy(_.toString))
      runs += KeyRun(pass, traced, key, startMs, (b - a) / 1e9, (c - b) / 1e9,
        (d - c) / 1e9, if (rows == null) -1L else rows.length.toLong, digest, err, phases)
    }

    for ((keys, pass) <- passOrders.zipWithIndex) {
      // cold pass traced; warm passes alternate traced / untraced
      val traced = trace && (pass == 0 || pass % 2 == 1)
      if (traced) attach(true)
      val startMs = epochMs()
      val p0 = System.nanoTime()
      keys.foreach(k => runKey(pass, traced, k))
      val wallS = (System.nanoTime() - p0) / 1e9
      if (traced) { rec.drain(); attach(false) }
      val (files, bytes, built) = if (trace) scanDirs(scratchRoots) else (0L, 0L, 0L)
      val regBytes = if (trace) scanDirs(Seq(registryRoot))._2 else 0L
      passes += s"""{"pass":$pass,"traced":$traced,"start_ms":$startMs,"wall_s":$wallS,""" +
        s""""scratch_files":$files,"scratch_bytes":$bytes,"registry_bytes":$regBytes,""" +
        s""""artifacts":$built}"""
    }

    val hwmKb = vmHwmKb()
    val runJson = runs.map { r =>
      val ph = r.phases.map { case (k, (a, b)) => s""""$k":[$a,$b]""" }.mkString("{", ",", "}")
      s"""{"pass":${r.pass},"traced":${r.traced},"key":${jstr(r.key)},"start_ms":${r.startMs},""" +
        s""""build_s":${r.buildS},"plan_s":${r.planS},"exec_s":${r.execS},""" +
        s""""rows":${r.rows},"digest":${jstr(r.digest)},"error":${jstr(r.error)},"phases":$ph}"""
    }
    val env = Seq(
      "spark_version" -> jstr(spark.version),
      "master" -> jstr(spark.sparkContext.master),
      "cores" -> cores.toString,
      "xmx_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "shuffle_partitions" -> jstr(spark.conf.get("spark.sql.shuffle.partitions")),
      "codegen_cache_max_entries" -> jstr(spark.conf.get("spark.sql.codegen.cache.maxEntries")),
      "session_time_zone" -> jstr(spark.conf.get("spark.sql.session.timeZone")),
      "java_version" -> jstr(sys.props("java.version")))
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    def arr(q: Iterable[String]) = q.mkString("[", ",\n", "]")
    val json =
      s"""{"env":$env,"session_ready_ms":$sessionReadyMs,"setup_end_ms":$setupEndMs,""" +
        s""""warmup_s":$warmupS,"warmup_tables":${touched.map { case (n, v) => s""""$n":$v""" }.mkString("{", ",", "}")},""" +
        s""""vm_hwm_kb":$hwmKb,"heap_after_gc_peak_bytes":${heapAfterGc.peak.get},""" +
        s""""gc_count":${heapAfterGc.collections.get},"passes":${arr(passes)},""" +
        s""""runs":${arr(runJson)},"jobs":${arr(rec.jobs.asScala)},""" +
        s""""stages":${arr(rec.stages.asScala)},"batches":${arr(rec.batches.asScala)}}"""
    Files.writeString(Paths.get(opt("out")), json)
    spark.stop()
  }
}
