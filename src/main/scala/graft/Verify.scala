package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    Tables.tune(spark)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dev-only subset filter (the driver never sets this): run just the
    // named keys for fast local iteration with tools/check_oracle.py
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // jobs per key: each key's jobs carry its name in a local property.
    // Not the job group itself: a streaming query's execution thread
    // inherits the driver thread's local properties but sets its own job
    // group, and its micro-batch jobs belong to the key that started it
    val sc = spark.sparkContext
    val keyProp = "graft.verify.key"
    val jobs = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    sc.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(keyProp)))
          .foreach(k => jobs.merge(k, 1, (a, b) => a + b))
    })
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val persisted = sc.getPersistentRDDs.keySet
      sc.setLocalProperty(keyProp, name)
      val t0 = System.nanoTime()
      val outcome =
        try { fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name"); "ok" }
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          e.getClass.getName
        }
      // one line per key, so a red key names itself: wall seconds, "ok"
      // or the class of what it threw, the persistent RDDs the key left
      // behind (staged blocks it never released), then the Spark jobs it
      // started
      val secs = (System.nanoTime() - t0) / 1e9
      sc.setLocalProperty(keyProp, null)
      val left = (sc.getPersistentRDDs.keySet -- persisted).size
      org.apache.spark.graftx.ListenerBridge.drain(sc)
      val started = Option(jobs.get(name)).map(_.intValue).getOrElse(0)
      System.err.println(f"[verify-key] $name $secs%.3f $outcome $left $started")
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // __GRAFT_STAGE__ resolves to the per-sfDir stage root where the
    // gates above just wrote their oracle-readable side tables (c23's
    // BPE counts) — the oracle runs after this JVM exits, so the path
    // must be substituted here, not computed in the static map
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_.contains(k)) }
      .map { case (k, v) =>
        s"${q(k)}: ${q(v.replace("__GRAFT_STAGE__", SparkEntry.stageDir(sfDir)))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
