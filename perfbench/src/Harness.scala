package graft.perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.SparkBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One benchmark run in one JVM: set up the session once, then run
  * passes over the workload's keys until the time budget is spent.
  *
  * Every key is built (`SparkEntry.queries(key)`) and executed into the
  * `noop` sink. Pass 0 is the cold pass; its outputs are also written as
  * parquet, outside the timed windows, for the oracle check. The next
  * `--warmup` passes warm the JIT up; later passes are measured. Each key
  * records its wall time and the CPU time the JVM spent while it ran,
  * split into JIT compilation and everything else.
  * With `--trace 1`, measured passes alternate between untraced and
  * traced; a traced pass attaches Spark's public listeners and records
  * per-key layer counters. Records go to `<out>/records.jsonl`, one JSON
  * object per line; `run.py` turns them into metrics.
  */
object Harness {
  final case class Opts(data: String, out: String, keys: Seq[String],
                        seconds: Double, trace: Boolean, seed: Long,
                        cpus: Int, warmup: Int, minWarm: Int, spawnEpochNs: Long)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Opts(m("data"), m("out"), m("keys").split(",").toSeq, m("seconds").toDouble,
      m("trace") == "1", m("seed").toLong, m("cpus").toInt,
      m("warmup").toInt, m("min-warm").toInt, m("spawn-epoch-ns").toLong)
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val rec = new Records(Paths.get(o.out, "records.jsonl"))
    // set-up: session + Tables.tune + the g1_entry warm-up, counted from
    // the moment the launcher spawned this JVM
    val spark = session(o)
    runKey(spark, o.data, "g1_entry")
    val setupJit = jitCpuNs()
    rec.write(Map("type" -> "setup", "seconds" -> (epochNs() - o.spawnEpochNs) / 1e9,
      "cpu_s" -> (processCpuNs() - setupJit) / 1e9, "jit_s" -> setupJit / 1e9))
    val sc = spark.sparkContext
    val stageRoot = graft.SparkEntry.stageDir(o.data)
    val oracle = graft.SparkEntry.oracleSql
    rec.write(Map("type" -> "meta",
      "stage_root" -> stageRoot,
      "master" -> sc.master,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "spark_version" -> spark.version,
      "oracle_sql" -> o.keys.flatMap(k => oracle.get(k).map(k ->
        _.replace("__GRAFT_STAGE__", stageRoot))).toMap))

    val verifyDir = Paths.get(o.out, "verify")
    // pass 0 is cold and the next `warmup` passes warm the JIT up; the
    // measured passes follow until --seconds have passed and at least
    // minWarm ran (of each kind under --trace 1, where they alternate
    // untraced/traced so the tracing overhead shows)
    val measured0 = 1 + o.warmup
    val minPasses = measured0 + o.minWarm * (if (o.trace) 2 else 1)
    val rng = new scala.util.Random(o.seed)
    var pass = 0
    var window0 = 0L
    def elapsed = if (pass <= measured0) 0.0 else (System.nanoTime() - window0) / 1e9
    while (pass < minPasses || elapsed < o.seconds) {
      if (pass == measured0) window0 = System.nanoTime()
      val traced = o.trace && pass >= measured0 && (pass - measured0) % 2 == 1
      // the cold pass keeps the listed order, so the JIT profiles every run
      // starts from are the same; the seed permutes every warm pass
      val order = if (pass == 0) o.keys else rng.shuffle(o.keys)
      val tracer = if (traced) Some(new Tracer(spark, stageRoot)) else None
      val gcBefore = gcMillis()
      heapPools.foreach(_.resetPeakUsage())
      var wall = 0.0
      var cpu = 0.0
      var jit = 0.0
      for (k <- order) {
        val persistedBefore = sc.getPersistentRDDs.keySet
        tracer.foreach(_.beginKey())
        val cpu0 = processCpuNs()
        val jit0 = jitCpuNs()
        val r = timeKey(spark, o.data, k)
        val keyJit = (jitCpuNs() - jit0) / 1e9
        val keyCpu = (processCpuNs() - cpu0) / 1e9 - keyJit
        cpu += keyCpu
        jit += keyJit
        if (traced) SparkBridge.drainListeners(sc)
        wall += r.build + r.action
        val left = sc.getPersistentRDDs.keySet -- persistedBefore
        val leftBytes = sc.getRDDStorageInfo.filter(i => left.contains(i.id))
          .map(i => i.memSize + i.diskSize).sum
        if (pass == 0 && r.df.isDefined) verify(r.df.get, verifyDir.resolve(k))
        rec.write(Map("type" -> "key", "pass" -> pass, "key" -> k, "traced" -> traced,
          "ok" -> r.error.isEmpty, "error" -> r.error.getOrElse(""),
          "build_s" -> r.build, "action_s" -> r.action, "cpu_s" -> keyCpu, "jit_s" -> keyJit,
          "rdds_left" -> left.size, "mb_left" -> leftBytes / 1048576.0)
          ++ tracer.map(_.keyCounters(r.build + r.action)).getOrElse(Map.empty))
      }
      val gcS = (gcMillis() - gcBefore) / 1e3
      val heapPeakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
      tracer.foreach(_.detach())
      val iso0 = System.nanoTime()
      isolate(spark)
      val isolateS = (System.nanoTime() - iso0) / 1e9
      rec.write(Map("type" -> "pass", "pass" -> pass, "traced" -> traced, "wall_s" -> wall,
        "cpu_s" -> cpu, "jit_s" -> jit, "isolate_s" -> isolateS,
        "order" -> order.mkString(","), "gc_s" -> gcS, "heap_peak_mb" -> heapPeakMb))
      pass += 1
    }
    rec.close()
    spark.stop()
  }

  private def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def session(o: Opts): SparkSession = {
    val local = Paths.get(o.out, "spark-local").toAbsolutePath.toString
    val s = SparkSession.builder()
      .master(s"local[${o.cpus}]")
      .config("spark.sql.shuffle.partitions", o.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", Paths.get(o.out, "warehouse").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.Tables.tune(s)
  }

  def runKey(spark: SparkSession, data: String, key: String): Unit =
    graft.SparkEntry.queries(key)(spark, data).write.format("noop").mode("overwrite").save()

  final case class KeyRun(build: Double, action: Double, df: Option[DataFrame], error: Option[String])

  def timeKey(spark: SparkSession, data: String, key: String): KeyRun = {
    val t0 = System.nanoTime()
    var t1 = t0
    try {
      val df = graft.SparkEntry.queries(key)(spark, data)
      t1 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val t2 = System.nanoTime()
      KeyRun((t1 - t0) / 1e9, (t2 - t1) / 1e9, Some(df), None)
    } catch {
      case e: Throwable =>
        val t2 = System.nanoTime()
        KeyRun((t1 - t0) / 1e9, (t2 - t1) / 1e9, None,
          Some(s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}"))
    }
  }

  /** Re-executes the key's plan into parquet for the oracle check; any
    * failure is left for run.py to report as a missing output. */
  def verify(df: DataFrame, dir: Path): Unit =
    try df.coalesce(1).write.mode("overwrite").parquet(dir.toString)
    catch { case e: Throwable => System.err.println(s"[perfbench] verify write failed: $e") }

  /** Between passes, outside the timed windows: release what the keys
    * left staged, collect, and wait until the ContextCleaner stops
    * deleting shuffle files, so one pass's cleanup does not land in the
    * next pass's time. */
  def isolate(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    try org.apache.spark.sql.execution.streaming.state.StateStore.stop()
    catch { case scala.util.control.NonFatal(_) => () }
    System.gc()
    val local = new File(spark.conf.get("spark.local.dir"))
    val deadline = System.nanoTime() + 3000000000L
    var prev = -1L
    var stable = 0
    while (stable < 2 && System.nanoTime() < deadline) {
      Thread.sleep(40)
      val n = countFiles(local)
      if (n == prev) stable += 1 else { stable = 0; prev = n }
    }
  }

  private def countFiles(f: File): Long = {
    val kids = f.listFiles()
    if (kids == null) 0L else kids.map(k => if (k.isDirectory) countFiles(k) else 1L).sum
  }

  /** CPU time of every thread of this JVM: tasks, driver, JIT and GC. */
  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** CPU time of the JIT compiler threads, from Linux's per-thread
    * schedstat. The launcher fixes their number
    * (-XX:-UseDynamicNumberOfCompilerThreads), so none of their time
    * leaves with a thread that exits; other threads may exit while the
    * list is read, and are skipped. */
  private def jitCpuNs(): Long =
    new File("/proc/self/task").listFiles().iterator.map(_.toPath).map { t =>
      try {
        val name = new String(Files.readAllBytes(t.resolve("comm"))).trim
        if (!name.startsWith("C1 CompilerThre") && !name.startsWith("C2 CompilerThre")) 0L
        else new String(Files.readAllBytes(t.resolve("schedstat"))).trim.split(" ")(0).toLong
      } catch { case _: java.io.IOException => 0L }
    }.sum

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  private def heapPools =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
}

/** Per-key layer counters from Spark's public listeners and from listing
  * the TxTable roots under the stage directory. Attached for one pass. */
final class Tracer(spark: SparkSession, stageRoot: String) {
  private val sc = spark.sparkContext
  private val c = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val jobStart = mutable.Map.empty[Int, Long]
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  private var keyStartMs = 0L
  private var filesBefore = Map.empty[String, (Long, Long)]

  private def add(k: String, v: Double): Unit = c.synchronized { c(k) += v }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      c.synchronized { jobStart(e.jobId) = e.time }
      add("sched.jobs", 1)
      val props = Option(e.properties)
      if (props.exists(_.getProperty("sql.streaming.queryId") != null)) add("stream.jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      c.synchronized { jobStart.remove(e.jobId) }.foreach(s => jobIntervals.add((s, e.time)))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("sched.stages", 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("sched.tasks", 1)
      if (!e.taskInfo.successful) add("sched.failed_tasks", 1)
      val m = e.taskMetrics
      val dur = e.taskInfo.duration / 1e3
      add("sched.task_s", dur)
      if (m != null) {
        add("sched.task_cpu_s", m.executorCpuTime / 1e9)
        add("sched.task_gc_s", m.jvmGCTime / 1e3)
        add("sched.task_wait_s", math.max(0.0, dur - m.executorRunTime / 1e3))
        add("scan.input_mb", m.inputMetrics.bytesRead / 1048576.0)
        add("scan.input_rows", m.inputMetrics.recordsRead.toDouble)
        add("shuffle.write_mb", m.shuffleWriteMetrics.bytesWritten / 1048576.0)
        add("shuffle.read_mb", m.shuffleReadMetrics.totalBytesRead / 1048576.0)
        add("shuffle.fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add("shuffle.spill_mb", m.diskBytesSpilled / 1048576.0)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
    private def phases(qe: QueryExecution): Unit = {
      add("plan.queries", 1)
      val p = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { ph =>
        p.get(ph).foreach(s => add(s"plan.${ph}_s", s.durationMs / 1e3))
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      add("stream.batches", 1)
      add("stream.input_rows", p.numInputRows.toDouble)
      val d = p.durationMs.asScala
      Seq("triggerExecution" -> "stream.trigger_s", "addBatch" -> "stream.add_batch_s",
        "queryPlanning" -> "stream.query_planning_s", "getBatch" -> "stream.get_batch_s",
        "walCommit" -> "stream.wal_commit_s").foreach { case (from, to) =>
        d.get(from).foreach(v => add(to, v.longValue / 1e3))
      }
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  def detach(): Unit = {
    SparkBridge.drainListeners(sc)
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def beginKey(): Unit = {
    SparkBridge.drainListeners(sc)
    c.synchronized { c.clear(); jobStart.clear() }
    jobIntervals.clear()
    filesBefore = listStage()
    keyStartMs = System.currentTimeMillis()
  }

  /** Counters of the key that just ran; call after the listener bus drained. */
  def keyCounters(keyWall: Double): Map[String, Any] = {
    val busy = unionSeconds(jobIntervals.asScala.toSeq)
    val after = listStage()
    val fresh = after.filter { case (p, st) => !filesBefore.get(p).contains(st) }
    def inLog(p: String) = p.contains("/_graft_log/")
    def inData(p: String) = {
      val i = p.indexOf("/data/")
      i > 0 && Files.isDirectory(Paths.get(p.substring(0, i), "_graft_log"))
    }
    val commits = fresh.keys.count(p => inLog(p) && p.matches(".*/v\\d+\\.json"))
    val logBytes = fresh.filter(f => inLog(f._1)).values.map(_._1).sum
    val data = fresh.filter(f => inData(f._1) && !f._1.endsWith(".crc"))
    c.synchronized(c.toMap) ++ Map(
      "sched.job_busy_s" -> busy,
      "driver.self_s" -> (keyWall - busy),
      "tx.commits" -> commits,
      "tx.data_files_written" -> data.size,
      "tx.data_mb_written" -> data.values.map(_._1).sum / 1048576.0,
      "tx.log_kb_written" -> logBytes / 1024.0)
  }

  private def unionSeconds(iv: Seq[(Long, Long)]): Double = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total / 1e3
  }

  private def listStage(): Map[String, (Long, Long)] = {
    val root = new File(stageRoot)
    if (!root.isDirectory) return Map.empty
    val out = mutable.Map.empty[String, (Long, Long)]
    def walk(f: File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach { k =>
        if (k.isDirectory) walk(k) else out(k.getPath) = (k.length, k.lastModified)
      }
    }
    walk(root)
    out.toMap
  }
}

/** JSON-lines writer for flat records of numbers, strings, booleans and
  * one level of string maps. */
final class Records(path: Path) {
  Files.createDirectories(path.getParent)
  private val w = new PrintWriter(Files.newBufferedWriter(path))

  def write(m: Map[String, Any]): Unit = { w.println(obj(m)); w.flush() }
  def close(): Unit = w.close()

  private def obj(m: Map[String, Any]): String =
    m.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  private def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => obj(m.map { case (k, x) => k.toString -> x })
    case other => str(String.valueOf(other))
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
}
