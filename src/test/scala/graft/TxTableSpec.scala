package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{Sources, TxTable}

/** The log-structured ACID table: snapshot isolation, merge-with-
  * file-pruning, time travel, compaction invariance, crash safety
  * (orphaned files invisible), and the optimistic-concurrency commit. */
class TxTableSpec extends AnyFunSuite with SharedSpark {

  private def mkTable(prefix: String) = {
    import spark.implicits._
    val root = tempDir(prefix).toString + "/tbl"
    val base = (0L until 1000L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(4, col("k"))   // 4 files, disjoint key ranges
    TxTable.create(spark, base, root, "k")
    (root, base)
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
    df.collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet

  test("create + read round-trips; version starts at 1") {
    val (root, base) = mkTable("txt-rt")
    assert(TxTable.currentVersion(root) === 1L)
    assert(rows(TxTable.read(spark, root)) === rows(base))
    assert(TxTable.snapshot(root).size === 4)
  }

  test("merge equals the relational upsert and prunes untouched files") {
    import spark.implicits._
    val (root, base) = mkTable("txt-merge")
    val before = TxTable.snapshot(root).map(_.name).toSet
    // updates confined to keys 0..99 — they intersect exactly ONE of
    // the four range files
    val upd = (0L until 150L by 3L).map(k => (k, s"u$k")).toDF("k", "v")
      .filter(col("k") < 100)
    TxTable.merge(spark, root, upd, "k")
    val expect = rows(Sources.upsert(base, upd, "k"))
    assert(rows(TxTable.read(spark, root)) === expect)
    // pruning: at least 3 of the 4 original files survived untouched
    val after = TxTable.snapshot(root).map(_.name).toSet
    assert((before intersect after).size >= 3,
      s"merge rewrote untouched files: before=$before after=$after")
  }

  test("pure-insert merge touches nothing and appends") {
    import spark.implicits._
    val (root, base) = mkTable("txt-insert")
    val before = TxTable.snapshot(root).map(_.name).toSet
    val ins = Seq((5000L, "new5000"), (5001L, "new5001")).toDF("k", "v")
    TxTable.merge(spark, root, ins, "k")
    assert(rows(TxTable.read(spark, root)) === rows(base) ++
      Set((5000L, "new5000"), (5001L, "new5001")))
    val after = TxTable.snapshot(root).map(_.name).toSet
    assert(before.subsetOf(after), "pure inserts must not rewrite files")
  }

  test("time travel: pre-merge snapshot stays readable after merge + compact") {
    import spark.implicits._
    val (root, base) = mkTable("txt-tt")
    val v1 = TxTable.currentVersion(root)
    TxTable.merge(spark, root,
      Seq((0L, "changed")).toDF("k", "v"), "k")
    TxTable.compact(spark, root, "k", numFiles = 2)
    assert(rows(TxTable.read(spark, root, asOf = Some(v1))) === rows(base))
    val cur = rows(TxTable.read(spark, root))
    assert(cur.contains((0L, "changed")) && cur.size === 1000)
  }

  test("compaction preserves rows exactly and shrinks the file count") {
    val (root, base) = mkTable("txt-compact")
    TxTable.compact(spark, root, "k", numFiles = 2)
    assert(TxTable.snapshot(root).size === 2)
    assert(rows(TxTable.read(spark, root)) === rows(base))
  }

  test("compaction: exact rows, at most numFiles balanced files, a hash exchange with no sort") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.util.QueryExecutionListener
    val root = tempDir("txt-compact-hash").toString + "/tbl"
    // one key value carries 600 of the 800 rows: a layout hashed on the
    // key alone would put them all in one file. A map column cannot be
    // hashed and stays out of the layout.
    val base = ((0L until 600L).map(i => (7L, s"dup$i")) ++
      (1000L until 1200L).map(k => (k, s"v$k"))).toDF("k", "v")
      .withColumn("m", map(lit("k"), col("k"))).repartition(8)
    TxTable.create(spark, base, root, "k")
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try TxTable.compact(spark, root, "k", numFiles = 4)
    finally {
      org.apache.spark.graftx.ListenerBridge.drain(spark.sparkContext)
      spark.listenerManager.unregister(listener)
    }
    assert(rows(TxTable.read(spark, root)) === rows(base))
    val files = TxTable.snapshot(root)
    assert(files.size <= 4 && files.size >= 2, s"${files.size} files")
    assert(files.map(_.rows).sum === 800L)
    assert(files.map(_.rows).max <= 2 * 800L / files.size,
      s"unbalanced files: ${files.map(_.rows)}")
    import scala.jdk.CollectionConverters._
    val aqe = new AdaptiveSparkPlanHelper {}
    val exchanges = plans.asScala.toSeq.flatMap(p =>
      aqe.collect(p) { case e: ShuffleExchangeExec => e })
    assert(exchanges.size === 1, s"rewrite exchanges: $exchanges")
    val ex = exchanges.head
    ex.outputPartitioning match {
      case HashPartitioning(exprs, n) =>
        assert(n === 4)
        assert(exprs.map(_.references.map(_.name).toSeq) === Seq(Seq("k"), Seq("v")))
      case other => fail(s"the rewrite exchange is $other, not a hash exchange")
    }
    assert(aqe.collect(ex) { case s: SortExec => s }.isEmpty,
      s"a Sort below the rewrite's exchange:\n$ex")
  }

  test("footer stats equal the Spark stats pass for integral, string and date columns") {
    import spark.implicits._
    import org.apache.spark.sql.types.{DateType, LongType, StringType}
    val root = tempDir("txt-footer-stats").toString + "/tbl"
    val base = (0L until 400L).map { k =>
      (k, if (k % 7 == 0) null else s"s${(k * 37) % 101}",
        if (k % 11 == 0) null else java.sql.Date.valueOf(
          java.time.LocalDate.of(2020, 1, 1).plusDays((k * 13) % 500)),
        (k * 3) % 50)
    }.toDF("k", "s", "d", "n").repartitionByRange(4, col("k"))
    TxTable.create(spark, base, root, "k", statsCols = Seq("s", "d", "n"))
    val files = TxTable.snapshot(root).map(f =>
      java.nio.file.Paths.get(root, "data", f.name))
    assert(files.size === 4)
    val secondary = Seq("s" -> StringType, "d" -> DateType, "n" -> LongType)
    val fromFooters = TxTable.footerEntries(spark.sessionState.newHadoopConf(),
      files, base.schema, "k", secondary)
    val pass = TxTable.statsPassEntries(spark, files, "k", secondary.map(_._1))
    assert(fromFooters === Some(pass))
    assert(pass.forall(_.cols.exists(_.keySet === Set("s", "d", "n"))))
    // a string key: both paths log the full-range sentinels and the
    // lexicographic range
    val sroot = tempDir("txt-footer-skey").toString + "/tbl"
    val sbase = (0L until 200L).map(k => (s"u$k", k)).toDF("u", "n")
      .repartitionByRange(2, col("u"))
    TxTable.create(spark, sbase, sroot, "u", statsCols = Seq("n"))
    val sfiles = TxTable.snapshot(sroot).map(f =>
      java.nio.file.Paths.get(sroot, "data", f.name))
    assert(TxTable.footerEntries(spark.sessionState.newHadoopConf(), sfiles,
      sbase.schema, "u", Seq("n" -> LongType)) ===
      Some(TxTable.statsPassEntries(spark, sfiles, "u", Seq("n"))))
  }

  test("stats are metadata-only: exact at every version, alive after data/ is gone") {
    import spark.implicits._
    val (root, base) = mkTable("txt-stats")
    val upd = ((500L until 520L) ++ (1000L until 1010L)) // 20 updates + 10 inserts
      .map(k => (k, s"u$k")).toDF("k", "v")
    TxTable.merge(spark, root, upd, "k")
    TxTable.deleteKeys(spark, root, (0L until 5L).toDF("k"), "k")
    // exact against a data recompute at every version
    (1L to 3L).foreach { v =>
      val st = TxTable.stats(root, Some(v))
      val df = TxTable.read(spark, root, Some(v))
      val (n, mn, mx) = df.agg(count(lit(1)), min("k"), max("k"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).head
      assert((st.numRows, st.keyMin, st.keyMax) === ((n, mn, mx)), s"v$v")
    }
    assert(TxTable.stats(root).numRows === base.count() + 10 - 5)
    // the metadata-only proof: physically remove EVERY data file — the
    // stats path must still answer (it never opens data), the read must not
    import scala.jdk.CollectionConverters._
    val dd = java.nio.file.Paths.get(root, "data")
    val walk = java.nio.file.Files.walk(dd)
    try walk.iterator().asScala.toSeq.reverse
      .foreach(java.nio.file.Files.deleteIfExists(_))
    finally walk.close()
    assert(TxTable.stats(root).numRows === base.count() + 10 - 5)
    intercept[Exception] { TxTable.read(spark, root).collect() }
  }

  test("clustered compaction keeps pruning alive; plain compaction kills it") {
    import spark.implicits._
    def build(prefix: String, clustered: Boolean): String = {
      val root = tempDir(prefix).toString + "/tbl"
      // interleaved writes: every original file spans the whole key range
      val base = (0L until 1000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartition(4)
      TxTable.create(spark, base, root, "k")
      if (clustered) TxTable.compactClustered(spark, root, "k", 4)
      else TxTable.compact(spark, root, "k", 4)
      root
    }
    val upd = (10L until 60L).map(k => (k, s"u$k")).toDF("k", "v")
    // plain compaction: the whole-row hash layout gives every file keys
    // across [0,999] — the narrow-key merge must rewrite everything
    val plain = build("txt-cmp-plain", clustered = false)
    val beforeP = TxTable.snapshot(plain).map(_.name).toSet
    TxTable.merge(spark, plain, upd, "k")
    val survivorsP = (beforeP intersect TxTable.snapshot(plain).map(_.name).toSet).size
    assert(survivorsP === 0, s"expected full rewrite after plain compact, $survivorsP survived")
    // clustered compaction: disjoint ranges — the same merge touches ONE file
    val clus = build("txt-cmp-clus", clustered = true)
    val beforeC = TxTable.snapshot(clus).map(_.name).toSet
    // per-file ranges are disjoint after clustering
    val ranges = TxTable.snapshot(clus).map(f => (f.kmin, f.kmax)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq(a, b) => assert(a._2 < b._1, s"overlapping ranges $a $b")
      case _ =>
    }
    TxTable.merge(spark, clus, upd, "k")
    val survivorsC = (beforeC intersect TxTable.snapshot(clus).map(_.name).toSet).size
    assert(survivorsC === 3, s"expected 3 of 4 files untouched, got $survivorsC")
    // rows identical either way
    assert(TxTable.read(spark, plain).collect().map(_.toString).sorted.toSeq ===
      TxTable.read(spark, clus).collect().map(_.toString).sorted.toSeq)
  }

  test("z-ordered compaction: second dimension localizes where 1-D cluster leaves it blind") {
    import spark.implicits._
    // y = k·421 mod 1024 is a bijection that SCRAMBLES the dims: a
    // y-rectangle is not a k-range, so only the layout can localize it
    def build(prefix: String, z: Boolean): String = {
      val root = tempDir(prefix).toString + "/tbl"
      val base = (0L until 1024L).map(k => (k, (k * 421) % 1024, s"v$k"))
        .toDF("k", "y", "v").repartition(4)
      TxTable.create(spark, base, root, "k")
      if (z) TxTable.compactZOrdered(spark, root, "k", "y", 4)
      else TxTable.compactClustered(spark, root, "k", 4)
      root
    }
    val oneD = build("txt-z-1d", z = false)
    val zed = build("txt-z-2d", z = true)
    def filesWithMatches(root: String): Long =
      TxTable.read(spark, root).filter(col("y") < 256)
        .select(input_file_name()).distinct().count()
    // 1-D cluster on k: y is scattered across every file — all 4 hold
    // matches; the z layout confines the y-quarter to a subset
    assert(filesWithMatches(oneD) === 4L)
    assert(filesWithMatches(zed) < 4L,
      s"z layout should localize the y-rectangle, touched ${filesWithMatches(zed)}")
    // the MERGE key still prunes through the logged stats after z —
    // weaker than 1-D's one-file guarantee (z trades key tightness for
    // two-dimensional boxes) but never the rewrite-everything of plain
    val before = TxTable.snapshot(zed).map(_.name).toSet
    TxTable.merge(spark, zed, Seq((10L, 9999L, "u10")).toDF("k", "y", "v"), "k")
    val survivors = (before intersect TxTable.snapshot(zed).map(_.name).toSet).size
    assert(survivors >= 2, s"expected >=2 of 4 files untouched by a point merge, got $survivors")
    // rows identical across layouts (pre-merge versions)
    assert(TxTable.read(spark, oneD, Some(2L)).collect().map(_.toString).sorted.toSeq ===
      TxTable.read(spark, zed, Some(2L)).collect().map(_.toString).sorted.toSeq)
  }

  test("orphaned data files are invisible (crash safety)") {
    import spark.implicits._
    val (root, base) = mkTable("txt-orphan")
    // a crashed writer leaves data files with NO commit record: write a
    // stray parquet straight into the data dir
    Seq((9999L, "ghost")).toDF("k", "v").write.mode("overwrite")
      .parquet(root + "/data/stray-orphan")
    assert(rows(TxTable.read(spark, root)) === rows(base))
  }

  test("vacuum: reclaims past-horizon files, keeps retained time travel") {
    import spark.implicits._
    val (root, base) = mkTable("txt-vac")           // v1
    TxTable.merge(spark, root,
      Seq((0L, "m1")).toDF("k", "v"), "k")          // v2
    TxTable.compact(spark, root, "k", numFiles = 2) // v3
    // keepVersions=1 retains v2+v3 live sets; v1's merged-away file
    // (the one v2 rewrote) is in neither and must be reclaimed.
    // minAgeMillis=0 opts out of the in-flight-writer age guard — valid
    // here because this test IS the single-writer maintenance window
    val deleted = TxTable.vacuum(root, keepVersions = 1, minAgeMillis = 0L)
    assert(deleted.nonEmpty)
    // head and the retained previous version still read perfectly
    assert(rows(TxTable.read(spark, root)).size === 1000)
    assert(rows(TxTable.read(spark, root, asOf = Some(2L)))
      .contains((0L, "m1")))
    // past the horizon the read fails LOUDLY (missing file), never lies
    intercept[Exception] {
      TxTable.read(spark, root, asOf = Some(1L)).collect()
    }
    // idempotent: nothing left to reclaim
    assert(TxTable.vacuum(root, keepVersions = 1, minAgeMillis = 0L).isEmpty)
  }

  test("vacuum: age guard spares an in-flight committer's staged files") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val (root, _) = mkTable("txt-vacrace")            // v1
    TxTable.merge(spark, root,
      Seq((0L, "m1")).toDF("k", "v"), "k")            // v2 rewrote one file
    // age v1's de-referenced file past the retention window
    val live = TxTable.snapshot(root).map(_.name).toSet
    val dd = Paths.get(root, "data")
    val listing = Files.list(dd)
    val unref = try {
      import scala.jdk.CollectionConverters._
      listing.iterator().asScala.toSeq
        .filter(p => !live.contains(p.getFileName.toString))
    } finally listing.close()
    assert(unref.nonEmpty)
    unref.foreach(p => Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() - 60L * 60 * 1000)))
    // a concurrent writer mid-commit: its data file is staged (moved
    // into data/) but the commit record does NOT yet exist — the exact
    // window between writeFiles and tryCommit
    val staged = dd.resolve("merge-inflight-0.parquet")
    Files.write(staged, Array[Byte](80, 65, 82, 49))
    val deleted = TxTable.vacuum(root, keepVersions = 0)
    assert(deleted.nonEmpty, "aged de-referenced file must be reclaimed")
    assert(Files.exists(staged),
      "vacuum deleted an in-flight committer's staged file — the commit " +
        "that wins next would reference vanished bytes")
    assert(!deleted.contains("merge-inflight-0.parquet"))
  }

  test("checkpointing: replay equals the full log and survives checkpoint loss") {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val (root, _) = mkTable("txt-ckpt")               // v1
    // 24 merges → versions 2..25: checkpoints due at v10 and v20
    (1L to 24L).foreach(i => TxTable.merge(spark, root,
      Seq((i, s"c$i")).toDF("k", "v"), "k"))
    assert(TxTable.currentVersion(root) === 25L)
    val ld = Paths.get(root, "_graft_log")
    assert(Files.exists(ld.resolve("ckpt-v0000000020.json")))
    assert(Files.exists(ld.resolve("_last_checkpoint")))
    val head = rows(TxTable.read(spark, root))
    assert(head.size === 1000 && head.contains((24L, "c24"))
      && head.contains((999L, "v999")))
    // time travel BELOW the earliest checkpoint replays the raw log
    val at5 = rows(TxTable.read(spark, root, asOf = Some(5L)))
    assert(at5.contains((4L, "c4")) && at5.contains((5L, "v5")))
    // checkpoints are derived data: losing every one (and the pointer)
    // must leave replay identical via the full-log fallback
    Seq("ckpt-v0000000010.json", "ckpt-v0000000020.json", "_last_checkpoint")
      .foreach(n => Files.deleteIfExists(ld.resolve(n)))
    assert(rows(TxTable.read(spark, root)) === head)
  }

  test("schema evolution: added column widens; old files read null; shrink fails") {
    import spark.implicits._
    val (root, _) = mkTable("txt-schema")
    val v1 = TxTable.currentVersion(root)
    // one matched update (k=1), one insert (k=5000), both carrying a NEW column
    val upd = Seq((1L, "u1", 0.9), (5000L, "new", 0.5)).toDF("k", "v", "score")
    TxTable.merge(spark, root, upd, "k")
    val df = TxTable.read(spark, root)
    assert(df.columns.toSeq === Seq("k", "v", "score"))
    val m = df.collect().map(r => r.getLong(0) -> Option(r.get(2))).toMap
    assert(m.size === 1001)
    assert(m(1L) === Some(0.9) && m(5000L) === Some(0.5))
    assert(m(2L).isEmpty,   "rewritten-file row must carry null for the added column")
    assert(m(900L).isEmpty, "UNTOUCHED old file must read the added column as null by-name")
    // time travel to v1 keeps the original two-column schema
    assert(TxTable.read(spark, root, asOf = Some(v1)).columns.toSeq === Seq("k", "v"))
    // a merge MISSING an existing column is refused loudly, never a silent drop
    intercept[IllegalArgumentException] {
      TxTable.merge(spark, root, Seq(Tuple1(7L)).toDF("k"), "k")
    }
  }

  test("post-widening merges and deletes keep the widened column (declared-schema reads)") {
    import spark.implicits._
    val (root, _) = mkTable("txt-widen2")
    // widening merge touches ONLY the last range file (keys 900+)
    TxTable.merge(spark, root,
      (900L until 1000L).map(k => (k, s"w$k", k * 10)).toDF("k", "v", "score"),
      "k")
    // second merge lands in a PRE-widening file (keys < 250) carrying
    // score values — an inferred read of that narrow file would drop them
    TxTable.merge(spark, root,
      (0L until 50L).map(k => (k, s"u$k", k + 7)).toDF("k", "v", "score"), "k")
    val afterMerge = TxTable.read(spark, root)
      .filter(col("k") < 50).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    (0L until 50L).foreach(k =>
      assert(afterMerge(k) === Some(k + 7), s"score lost for key $k"))
    // a delete spanning a pre-widening file AND the widened file must
    // not erase surviving rows' scores in either
    TxTable.deleteKeys(spark, root, Seq(300L, 950L).toDF("k"), "k")
    val after = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> Option(r.get(2)).map(_.asInstanceOf[Long])).toMap
    assert(!after.contains(300L) && !after.contains(950L))
    assert(after(955L) === Some(9550L), "widened value erased by delete")
    assert(after(301L) === None)     // pre-widening rows stay null
    assert(after(10L) === Some(17L)) // merge-2 values survive the delete
  }

  test("restore: rolls the live set back as a new commit; history stays travelable") {
    import spark.implicits._
    val (root, base) = mkTable("txt-restore")
    TxTable.merge(spark, root,
      Seq((1L, "MUT"), (5000L, "NEW")).toDF("k", "v"), "k")        // v2
    TxTable.deleteKeys(spark, root, Seq(2L, 3L).toDF("k"), "k")    // v3
    val v = TxTable.restore(root, "k", 1L)                         // v4
    assert(v === 4L)
    assert(rows(TxTable.read(spark, root)) === rows(base))
    // the intermediate state is still travelable (restore never erases)
    val atV3 = rows(TxTable.read(spark, root, asOf = Some(3L)))
    assert(atV3.contains((1L, "MUT")) && atV3.contains((5000L, "NEW")))
    assert(!atV3.exists(_._1 == 2L))
    // restoring to the current state is a no-op (no new version)
    assert(TxTable.restore(root, "k", 4L) === 4L)
    // stats stay metadata-exact after the swap
    assert(TxTable.stats(root).numRows === 1000L)
  }

  test("deleteKeys removes exactly the requested keys; delete-of-absent no-ops") {
    import spark.implicits._
    val (root, base) = mkTable("txt-del")
    val doomed = (0L until 1000L by 13L).toDF("k")
    val v = TxTable.deleteKeys(spark, root, doomed, "k")
    assert(v === 2L)
    val want = rows(base.join(doomed, Seq("k"), "left_anti"))
    assert(rows(TxTable.read(spark, root)) === want)
    // delete of keys outside every file's range: true no-op, no commit
    val v2 = TxTable.deleteKeys(spark, root, Seq(999999L).toDF("k"), "k")
    assert(v2 === 2L)
    assert(rows(TxTable.read(spark, root)) === want)
    // replaying the SAME delete is value-idempotent (keys already gone;
    // in-range probes rewrite the touched files to identical contents)
    TxTable.deleteKeys(spark, root, doomed, "k")
    assert(rows(TxTable.read(spark, root)) === want)
  }

  test("txn: a replayed (appId, version) no-ops; a higher version applies") {
    import spark.implicits._
    val (root, base) = mkTable("txt-txn")
    val upd1 = Seq((1L, "b1")).toDF("k", "v")
    val v1 = TxTable.merge(spark, root, upd1, "k", txn = Some(("app", 1L)))
    assert(TxTable.lastTxn(root, "app") === Some(1L))
    // re-delivery of the same batch: version unchanged, rows unchanged
    val vReplay = TxTable.merge(spark, root,
      Seq((1L, "DOUBLE")).toDF("k", "v"), "k", txn = Some(("app", 1L)))
    assert(vReplay === v1)
    assert(rows(TxTable.read(spark, root))
      === rows(Sources.upsert(base, upd1, "k")))
    // a LOWER version (late straggler) also no-ops
    TxTable.merge(spark, root,
      Seq((2L, "STALE")).toDF("k", "v"), "k", txn = Some(("app", 0L)))
    assert(!rows(TxTable.read(spark, root)).contains((2L, "STALE")))
    // the next batch applies; an unrelated app is not blocked
    TxTable.merge(spark, root, Seq((2L, "b2")).toDF("k", "v"), "k",
      txn = Some(("app", 2L)))
    TxTable.merge(spark, root, Seq((3L, "other")).toDF("k", "v"), "k",
      txn = Some(("other-app", 1L)))
    val got = rows(TxTable.read(spark, root))
    assert(got.contains((2L, "b2")) && got.contains((3L, "other")))
    assert(TxTable.lastTxn(root, "app") === Some(2L))
    assert(TxTable.lastTxn(root, "other-app") === Some(1L))
    assert(TxTable.lastTxn(root, "never") === None)
  }

  test("txn: the watermark survives checkpointing (replay starts at the checkpoint)") {
    import spark.implicits._
    val (root, _) = mkTable("txt-txn-ckpt")
    // the txn lands at v2, well BEFORE the checkpoint at v11 — if the
    // checkpoint dropped watermarks, replay-from-checkpoint would
    // forget it and the late replay below would double-apply
    TxTable.merge(spark, root, Seq((7L, "applied")).toDF("k", "v"), "k",
      txn = Some(("sink", 5L)))
    (1 to 10).foreach { i =>
      TxTable.merge(spark, root,
        Seq((2000L + i, s"fill$i")).toDF("k", "v"), "k")
    }
    assert(TxTable.currentVersion(root) >= 11L)
    assert(TxTable.lastTxn(root, "sink") === Some(5L),
      "txn watermark lost across the checkpoint")
    TxTable.merge(spark, root, Seq((7L, "REPLAYED")).toDF("k", "v"), "k",
      txn = Some(("sink", 5L)))
    assert(rows(TxTable.read(spark, root)).contains((7L, "applied")))
  }

  test("merge refuses duplicate update keys (fan-out corruption guard)") {
    import spark.implicits._
    val (root, _) = mkTable("txt-dupkeys")
    intercept[IllegalArgumentException] {
      TxTable.merge(spark, root,
        Seq((1L, "a"), (1L, "b")).toDF("k", "v"), "k")
    }
    // the failed merge committed nothing
    assert(TxTable.currentVersion(root) === 1L)
  }

  test("string keys: lexicographic file stats prune merges to intersecting files") {
    import spark.implicits._
    val root = tempDir("txt-strkey").toString + "/tbl"
    // zero-padded keys so lexicographic order == numeric order; range
    // partitioning gives the 4 files DISJOINT string ranges
    val base = (0 until 1000).map(i => (f"url$i%04d", s"v$i")).toDF("k", "v")
      .repartitionByRange(4, col("k"))
    TxTable.create(spark, base, root, "k")
    // string stats recorded per file
    assert(TxTable.snapshot(root).forall(f => f.smin.isDefined && f.smax.isDefined))
    val before = TxTable.snapshot(root).map(_.name).toSet
    // updates confined to a narrow lexicographic range → ONE file touched
    val upd = (10 until 60).map(i => (f"url$i%04d", s"u$i")).toDF("k", "v")
    TxTable.merge(spark, root, upd, "k")
    val after = TxTable.snapshot(root).map(_.name).toSet
    assert((before intersect after).size >= 3,
      s"string-keyed merge rewrote untouched files: before=$before after=$after")
    val out = TxTable.read(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out.size === 1000 && out.contains(("url0015", "u15")) &&
      out.contains(("url0900", "v900")))
    // deleteKeys prunes on the same stats
    val before2 = TxTable.snapshot(root).map(_.name).toSet
    TxTable.deleteKeys(spark, root, Seq(Tuple1("url0950")).toDF("k"), "k")
    val after2 = TxTable.snapshot(root).map(_.name).toSet
    assert((before2 intersect after2).size >= before2.size - 1)
    assert(TxTable.read(spark, root).count() === 999)
    // delete-of-absent stays a no-op (the folded pre-check)
    val v = TxTable.currentVersion(root)
    assert(TxTable.deleteKeys(spark, root,
      Seq(Tuple1("zzz-not-there")).toDF("k"), "k") === v)
  }

  test("string keys: a pre-r15 file without string stats forces the safe degrade") {
    import spark.implicits._
    val root = tempDir("txt-strleg").toString + "/tbl"
    val base = (0 until 100).map(i => (f"k$i%03d", s"v$i")).toDF("k", "v")
      .repartitionByRange(2, col("k"))
    TxTable.create(spark, base, root, "k")
    // simulate a legacy log: strip smin/smax from the commit record
    val logP = java.nio.file.Paths.get(root, "_graft_log", "v0000000001.json")
    val rec = new String(java.nio.file.Files.readAllBytes(logP), "UTF-8")
      .replaceAll("\"smin\":\"[^\"]*\",?", "").replaceAll("\"smax\":\"[^\"]*\",?", "")
      .replaceAll(",\\}", "}")
    java.nio.file.Files.write(logP, rec.getBytes("UTF-8"))
    assert(TxTable.snapshot(root).forall(f => f.smin.isEmpty))
    // merge must still be CORRECT (touch-all degrade, never a miss)
    TxTable.merge(spark, root, Seq(("k005", "changed")).toDF("k", "v"), "k")
    val out = TxTable.read(spark, root).collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(out.size === 100 && out.contains(("k005", "changed")))
  }

  test("merge type contract: unsafe type change refused; safe widening commits the wider schema") {
    import spark.implicits._
    val root = tempDir("txt-widen").toString + "/tbl"
    val base = (0L until 100L).map(k => (k, k.toInt, s"v$k")).toDF("k", "n", "v")
      .repartitionByRange(4, col("k"))
    TxTable.create(spark, base, root, "k")
    // string arriving where the table declares int → refuse AT THE MERGE
    val bad = Seq((5L, "not-a-number", "x")).toDF("k", "n", "v")
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root, bad, "k")
    }
    assert(e.getMessage.contains("'n'") && e.getMessage.contains("widening"))
    // int→long is a lossless widening: the declared schema widens, the
    // untouched narrow files upcast on read
    val wide = Seq((5L, 1234567890123L, "widened")).toDF("k", "n", "v")
    TxTable.merge(spark, root, wide, "k")
    val sch = TxTable.schemaOf(root)
    assert(sch("n").dataType === org.apache.spark.sql.types.LongType)
    val out = TxTable.read(spark, root).collect()
      .map(r => (r.getAs[Long]("k"), r.getAs[Long]("n"))).toMap
    assert(out(5L) === 1234567890123L)
    assert(out(99L) === 99L, "carried narrow file must upcast on read")
    assert(out.size === 100)
    // a later narrow-typed merge against the widened table also refuses
    val narrow = Seq((6L, 7, "x")).toDF("k", "n", "v")
    intercept[IllegalArgumentException] {
      TxTable.merge(spark, root, narrow, "k")
    }
  }

  test("restore refuses a target whose files were vacuumed; valid restores still work") {
    import spark.implicits._
    val (root, _) = mkTable("txt-resvac")
    val upd = (0L until 100L).map(k => (k, s"u$k")).toDF("k", "v")
    TxTable.merge(spark, root, upd, "k")                       // v2
    // reclaim v1's rewritten file (keepVersions=0 retains only the head)
    val deleted = TxTable.vacuum(root, keepVersions = 0, minAgeMillis = 0)
    assert(deleted.nonEmpty, "vacuum should have reclaimed v1's file")
    val e = intercept[IllegalArgumentException] {
      TxTable.restore(root, "k", 1L)
    }
    assert(e.getMessage.contains("vacuumed") &&
      deleted.exists(n => e.getMessage.contains(n)),
      s"restore error must name the missing file(s): ${e.getMessage}")
    // the head is untouched and still readable
    assert(TxTable.read(spark, root).count() === 1000)
    // a restore whose target files survive still works
    TxTable.merge(spark, root, Seq((0L, "v3val")).toDF("k", "v"), "k") // v3
    TxTable.restore(root, "k", 2L)                                     // v4
    assert(rows(TxTable.read(spark, root)).contains((0L, "u0")))
  }

  test("history: one row per version with op kinds, write stats and flags") {
    import spark.implicits._
    val (root, _) = mkTable("txt-hist")                         // v1 CREATE
    TxTable.merge(spark, root,
      (0L until 50L).map(k => (k, s"u$k")).toDF("k", "v"), "k") // v2 MERGE
    TxTable.deleteKeys(spark, root,
      Seq(Tuple1(10L), Tuple1(11L)).toDF("k"), "k")             // v3 DELETE
    TxTable.compact(spark, root, "k", 2)                        // v4 COMPACT
    TxTable.restore(root, "k", 2L)                              // v5 RESTORE
    val h = TxTable.history(spark, root).collect()
      .map(r => r.getAs[Long]("version") ->
        (r.getAs[String]("op"), r.getAs[Boolean]("schema_changed"),
          r.getAs[Boolean]("data_change"), r.getAs[Long]("rows_added"))).toMap
    assert(h.keySet === Set(1L, 2L, 3L, 4L, 5L))
    assert(h(1L)._1 === "CREATE" && h(1L)._2 && h(1L)._4 === 1000L)
    assert(h(2L)._1 === "MERGE" && !h(2L)._2)
    assert(h(3L)._1 === "DELETE")
    assert(h(4L)._1 === "COMPACT" && !h(4L)._3,
      "compaction must be stamped data_change=false")
    assert(h(4L)._4 === 998L)
    assert(h(5L)._1 === "RESTORE" && h(5L)._3)
    // restore only re-references files: nothing rewritten, rows_added
    // counts the re-referenced entries' rows
    assert(rows(TxTable.read(spark, root)) ===
      rows(TxTable.read(spark, root, asOf = Some(2L))))
  }

  test("changes: per-commit feed classifies inserts/updates/deletes; compaction emits nothing") {
    import spark.implicits._
    val (root, _) = mkTable("txt-cdf")                           // v1: 1000 inserts
    val upd = Seq((5L, "u5"), (6L, "u6"), (2000L, "new2000")).toDF("k", "v")
    TxTable.merge(spark, root, upd, "k")                         // v2
    TxTable.deleteKeys(spark, root, Seq(Tuple1(7L)).toDF("k"), "k") // v3
    TxTable.compact(spark, root, "k", 2)                         // v4
    val ch = TxTable.changes(spark, root, 1L, 4L).collect()
      .map(r => (r.getAs[Long]("_commit_version"), r.getAs[String]("_change_type"),
        r.getAs[Long]("k"), r.getAs[String]("v")))
    // v2: two updates (pre+post), one insert — carried neighbors silent
    val v2 = ch.filter(_._1 == 2L).toSet
    assert(v2 === Set(
      (2L, "update_preimage", 5L, "v5"), (2L, "update_postimage", 5L, "u5"),
      (2L, "update_preimage", 6L, "v6"), (2L, "update_postimage", 6L, "u6"),
      (2L, "insert", 2000L, "new2000")))
    // v3: exactly the deleted key, with its pre-delete value
    assert(ch.filter(_._1 == 3L).toSet === Set((3L, "delete", 7L, "v7")))
    // v4 (compaction, dataChange=false): zero rows
    assert(!ch.exists(_._1 == 4L))
    // a narrower window sees only its commits
    val ch23 = TxTable.changes(spark, root, 2L, 3L)
      .select("_commit_version").distinct().collect().map(_.getLong(0)).toSet
    assert(ch23 === Set(3L))
    // the full-from-zero feed includes the create as inserts
    val all = TxTable.changes(spark, root, 0L, 1L)
    assert(all.filter(col("_change_type") === "insert").count() === 1000L)
  }

  test("optimistic concurrency: version collision retries past the winner") {
    import spark.implicits._
    val (root, _) = mkTable("txt-occ")
    // another committer wins version 2 first (valid empty commit)
    val rec =
      """{"version":2,"key":"k","adds":[],"removes":[],"op":"MERGE","ts":0}"""
    java.nio.file.Files.write(
      java.nio.file.Paths.get(root, "_graft_log", "v0000000002.json"),
      rec.getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE_NEW)
    TxTable.merge(spark, root, Seq((1L, "retry")).toDF("k", "v"), "k")
    assert(TxTable.currentVersion(root) === 3L)
    assert(rows(TxTable.read(spark, root)).contains((1L, "retry")))
  }

  // ---- r16: reader-side data skipping -------------------------------

  /** A table whose files are k-range-clustered WITH two declared
    * secondary stats columns that correlate with k: a date (d) and a
    * zero-padded string (s) — both therefore carry disjoint per-file
    * ranges, the shape data skipping exists for. */
  private def mkStatsTable(prefix: String) = {
    import spark.implicits._
    val root = tempDir(prefix).toString + "/tbl"
    val base = (0L until 1000L).map { k =>
      (k, java.sql.Date.valueOf(
        java.time.LocalDate.of(2024, 1, 1).plusDays((k / 10).toInt)),
        f"s$k%04d", s"v$k")
    }.toDF("k", "d", "s", "v")
      .repartitionByRange(8, col("k")).sortWithinPartitions("k")
    TxTable.create(spark, base, root, "k", statsCols = Seq("d", "s"))
    root
  }

  private def dataPath(root: String, name: String) =
    java.nio.file.Paths.get(root, "data", name)

  test("readWhere: key-range read opens a strict subset; pruned files may not exist") {
    val root = mkStatsTable("txt-skip-key")
    val (kept, pruned) = TxTable.liveFilesWhere(root, "k", 0L, 99L)
    assert(kept.nonEmpty && pruned.size >= 6,
      s"expected most of 8 range files pruned, kept=${kept.size} pruned=${pruned.size}")
    // the q71 proof: physically delete every pruned file — the range
    // read must still answer, because it never lists them
    pruned.foreach(f => java.nio.file.Files.delete(dataPath(root, f.name)))
    val got = TxTable.readWhere(spark, root, "k", 0L, 99L)
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[String]("v"))).toSet
    assert(got === (0L until 100L).map(k => (k, s"v$k")).toSet)
  }

  test("readWhere: secondary date and string columns prune from their logged ColStats") {
    val root = mkStatsTable("txt-skip-col")
    // date range covering k in [100, 199] → 1-2 of the 8 k-range files
    val dLo = java.sql.Date.valueOf("2024-01-11")
    val dHi = java.sql.Date.valueOf("2024-01-20")
    val (keptD, prunedD) = TxTable.liveFilesWhere(root, "d", dLo, dHi)
    assert(prunedD.size >= 6, s"date skipping kept ${keptD.size} of 8")
    // string range s0200..s0299 → same clustering, same pruning
    val (keptS, prunedS) = TxTable.liveFilesWhere(root, "s", "s0200", "s0299")
    assert(prunedS.size >= 6, s"string skipping kept ${keptS.size} of 8")
    // delete everything either query pruned; both must still answer
    (prunedD.map(_.name).toSet intersect prunedS.map(_.name).toSet)
      .foreach(n => java.nio.file.Files.delete(dataPath(root, n)))
    val gotD = TxTable.readWhere(spark, root, "d", dLo, dHi)
      .collect().map(_.getAs[Long]("k")).toSet
    assert(gotD === (100L until 200L).toSet)
    val gotS = TxTable.readWhere(spark, root, "s", "s0200", "s0299")
      .collect().map(_.getAs[Long]("k")).toSet
    assert(gotS === (200L until 300L).toSet)
    // provably-empty rectangle: zero files opened even with data gone
    val empty = TxTable.readWhere(spark, root, "d",
      java.sql.Date.valueOf("2030-01-01"), java.sql.Date.valueOf("2030-12-31"))
    assert(empty.count() === 0L)
  }

  test("readWhere: stats survive merges, compaction and checkpoints; missing stats degrade to read-all") {
    import spark.implicits._
    val root = mkStatsTable("txt-skip-carry")
    // a merge's rewritten + inserted files must re-log secondary stats
    val upd = (0L until 50L).map(k =>
      (k, java.sql.Date.valueOf("2024-01-01"), f"s$k%04d", s"u$k"))
      .toDF("k", "d", "s", "v")
    TxTable.merge(spark, root, upd, "k")
    assert(TxTable.snapshot(root).forall(f =>
      f.cols.exists(m => m.contains("d") && m.contains("s"))),
      "merge output files lost the declared secondary stats")
    // clustered compaction re-logs them too, and the declaration
    // survives the checkpoint replay (compact enough commits to cross
    // the interval)
    (1 to 9).foreach { i =>
      TxTable.merge(spark, root,
        Seq((2000L + i, java.sql.Date.valueOf("2025-06-01"),
          f"s${2000 + i}%04d", s"n$i")).toDF("k", "d", "s", "v"), "k")
    }
    TxTable.compactClustered(spark, root, "k", 8)
    assert(TxTable.currentVersion(root) >= 11L)
    assert(TxTable.snapshot(root).forall(f => f.cols.exists(_.contains("d"))),
      "secondary stats lost after compaction past a checkpoint")
    // unsupported bound type (a Double) prunes nothing — degrade path
    val (keptAll, prunedNone) = TxTable.liveFilesWhere(root, "d", 1.5d, 2.5d)
    assert(prunedNone.isEmpty && keptAll.size === TxTable.snapshot(root).size)
  }

  // ---- log protocol and crash-safe publication -----------------------

  test("protocol: a log whose v1 lacks the protocol is refused by read, snapshot and merge") {
    import spark.implicits._
    val (root, _) = mkTable("txt-proto")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val p = java.nio.file.Paths.get(root, "_graft_log", "v0000000001.json")
    val j = JsonMethods.parse(new String(java.nio.file.Files.readAllBytes(p),
      java.nio.charset.StandardCharsets.UTF_8))
    assert((j \ "protocol") === JInt(1))
    java.nio.file.Files.write(p,
      JsonMethods.compact(JsonMethods.render(
        j.removeField { case (n, _) => n == "protocol" }))
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val refusals = Seq(
      intercept[IllegalArgumentException](TxTable.read(spark, root)),
      intercept[IllegalArgumentException](TxTable.snapshot(root)),
      intercept[IllegalArgumentException](
        TxTable.merge(spark, root, Seq((1L, "x")).toDF("k", "v"), "k")))
    refusals.foreach(e => assert(e.getMessage.contains(root) &&
      e.getMessage.contains("protocol none"), e.getMessage))
    assert(TxTable.currentVersion(root) === 1L, "a refused merge commits nothing")
    // a merge into a root with no log creates none (create writes v1)
    val missing = tempDir("txt-proto-missing").toString + "/tbl"
    val e = intercept[IllegalArgumentException](
      TxTable.merge(spark, missing, Seq((1L, "x")).toDF("k", "v"), "k"))
    assert(e.getMessage.contains(missing) && e.getMessage.contains("create it first"))
    assert(TxTable.currentVersion(missing) === 0L)
  }

  test("torn records: a crashed writer's temp file keeps the table at v(N-1); the next commit lands at vN") {
    import spark.implicits._
    val (root, base) = mkTable("txt-torn")
    TxTable.merge(spark, root, Seq((0L, "m0")).toDF("k", "v"), "k")    // v2
    val log = java.nio.file.Paths.get(root, "_graft_log")
    // what a writer that dies between its temp write and the publishing
    // link leaves behind: part of its v3 record under a temp name
    val rec = java.nio.file.Files.readAllBytes(log.resolve("v0000000002.json"))
    java.nio.file.Files.write(log.resolve(".tmp-crashed.part"),
      rec.take(rec.length / 2))
    assert(TxTable.currentVersion(root) === 2L)
    assert(rows(TxTable.read(spark, root)) ===
      rows(base).filterNot(_._1 == 0L) + ((0L, "m0")))
    assert(TxTable.merge(spark, root, Seq((1L, "m1")).toDF("k", "v"), "k") === 3L)
    assert(rows(TxTable.read(spark, root)).contains((1L, "m1")))
    import scala.jdk.CollectionConverters._
    val l = java.nio.file.Files.list(log)
    val names = try l.iterator().asScala.map(_.getFileName.toString).toSet
      finally l.close()
    assert(names.filter(_.matches("v\\d{10}\\.json")) ===
      Set("v0000000001.json", "v0000000002.json", "v0000000003.json"))
    assert(names.filter(_.endsWith(".part")) === Set(".tmp-crashed.part"),
      "a published commit leaves no temp file behind")
    // cleanup reclaims a temp file older than the head record (its writer
    // raced for a version that exists) and keeps one a live writer may own
    java.nio.file.Files.write(log.resolve(".tmp-fresh.part"), rec)
    assert(TxTable.cleanupLog(root, keepVersions = 10) === Seq(".tmp-crashed.part"))
    assert(!java.nio.file.Files.exists(log.resolve(".tmp-crashed.part")))
    assert(java.nio.file.Files.exists(log.resolve(".tmp-fresh.part")))
    assert(TxTable.currentVersion(root) === 3L)
  }

  test("merge releases the blocks it staged, with and without cdc, and keeps the caller's") {
    val sc = spark.sparkContext
    def src(tag: String, n: Long) =
      spark.range(0, n).select(col("id").as("k"), lit(tag).as("v"))
    Seq(false, true).foreach { cdc =>
      val root = tempDir(s"txt-release-$cdc").toString + "/tbl"
      TxTable.create(spark, src("v", 100), root, "k", cdc = cdc)
      val before = sc.getPersistentRDDs.keySet
      TxTable.merge(spark, root, src("u", 150), "k")
      assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
        s"cdc=$cdc: the merge left persisted RDDs behind")
      // a source the caller materialized is the caller's to release
      val staged = src("w", 10).localCheckpoint()
      val mine = sc.getPersistentRDDs.keySet -- before
      assert(mine.nonEmpty)
      TxTable.merge(spark, root, staged, "k")
      assert(sc.getPersistentRDDs.keySet -- before === mine)
      assert(staged.count() === 10L)
      assert(rows(TxTable.read(spark, root)).count(_._2 == "w") === 10)
      mine.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    }
  }

  test("deleteKeys and deleteKeysDV release the blocks they staged, with and without cdc") {
    val sc = spark.sparkContext
    def src(tag: String, n: Long) =
      spark.range(0, n).select(col("id").as("k"), lit(tag).as("v"))
    def keys(from: Long, to: Long) = spark.range(from, to).select(col("id").as("k"))
    Seq(false, true).foreach { cdc =>
      val root = tempDir(s"txt-del-release-$cdc").toString + "/tbl"
      TxTable.create(spark, src("v", 100), root, "k", cdc = cdc)
      val before = sc.getPersistentRDDs.keySet
      def clean(what: String): Unit =
        assert((sc.getPersistentRDDs.keySet -- before).isEmpty,
          s"cdc=$cdc: $what left persisted RDDs behind")
      TxTable.deleteKeys(spark, root, keys(0, 10), "k")
      clean("deleteKeys")
      TxTable.deleteKeys(spark, root, keys(500, 510), "k") // touches nothing
      clean("a no-op deleteKeys")
      TxTable.deleteKeysDV(spark, root, keys(20, 30), "k")
      clean("deleteKeysDV")
      // a second DV delete on the same files merges with the old vectors
      TxTable.deleteKeysDV(spark, root, keys(25, 40), "k", txn = Some(("del", 1L)))
      clean("deleteKeysDV over existing vectors")
      TxTable.deleteKeysDV(spark, root, keys(500, 510), "k", txn = Some(("del", 2L)))
      clean("a no-op deleteKeysDV")
      assert(rows(TxTable.read(spark, root)).toSeq.map(_._1).sorted ===
        ((10L until 20L) ++ (40L until 100L)))
    }
  }

  test("torn records: a reader replaying through 200 concurrent metadata-only commits never throws") {
    import spark.implicits._
    val root = tempDir("txt-torn-race").toString + "/tbl"
    TxTable.create(spark, Seq((1L, "x", 2L)).toDF("k", "a", "c"), root, "k")
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable](null)
    val reads = new java.util.concurrent.atomic.AtomicLong
    val reader = new Thread(() =>
      while (!stop.get()) {
        try { TxTable.snapshot(root); reads.incrementAndGet() }
        catch { case t: Throwable => failure.compareAndSet(null, t) }
      })
    reader.start()
    try (1 to 200).foreach { i =>
      if (i % 2 == 1) TxTable.renameColumn(root, "a", "b")
      else TxTable.renameColumn(root, "b", "a")
    } finally { stop.set(true); reader.join() }
    assert(failure.get() === null, s"a concurrent replay threw: ${failure.get()}")
    assert(reads.get() > 0)
    assert(TxTable.currentVersion(root) === 201L)
    assert(TxTable.schemaOf(root).fieldNames.toSeq === Seq("k", "a", "c"))
  }

  // ---- r16: conditional MERGE clauses --------------------------------

  private def condTable(prefix: String) = {
    import spark.implicits._
    val root = tempDir(prefix).toString + "/tbl"
    val base = (0L until 10L).map(k => (k, s"v$k", 10L)).toDF("k", "v", "seq")
    TxTable.create(spark, base, root, "k")
    root
  }
  private val condDel: TxTable.MergeCond = (s, _) => s("op") === "D"
  private val condNewer: TxTable.MergeCond = (s, t) => s("seq") > t("seq")
  private val condNotDel: TxTable.MergeCond = (s, _) => s("op") =!= "D"

  test("mergeConditional: delete / update-if-newer / stale-keep / insert gates") {
    import spark.implicits._
    val root = condTable("txt-cond")
    val batch = Seq(
      (0L, "dead", 99L, "D"),    // matched + delete clause → removed
      (1L, "fresh", 20L, "U"),   // matched, 20 > 10 → updated
      (2L, "stale", 5L, "U"),    // matched, 5 > 10 false → target kept
      (100L, "born", 1L, "U"),   // not matched, op ≠ D → inserted
      (101L, "ghost", 1L, "D")   // not matched, op = D → dropped
    ).toDF("k", "v", "seq", "op")
    TxTable.mergeConditional(spark, root, batch, "k",
      matchedDelete = Some(condDel), matchedUpdate = Some(condNewer),
      notMatchedInsert = Some(condNotDel))
    val got = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(!got.contains(0L) && !got.contains(101L))
    assert(got(1L) === ("fresh", 20L))
    assert(got(2L) === ("v2", 10L), "stale update must keep the target row")
    assert(got(100L) === ("born", 1L))
    assert((3L until 10L).forall(k => got(k) === (s"v$k", 10L)))
    assert(got.size === 10)   // 9 surviving base keys + the k100 insert
  }

  test("mergeConditional: null predicate results count as false; defaults are unconditional upsert") {
    import spark.implicits._
    val root = condTable("txt-cond-null")
    // null seq makes s.seq > t.seq evaluate to NULL → not updated
    val b1 = Seq((1L, "nullseq", null.asInstanceOf[java.lang.Long], "U"))
      .toDF("k", "v", "seq", "op")
      .select(col("k"), col("v"), col("seq").cast("long").as("seq"), col("op"))
    TxTable.mergeConditional(spark, root, b1, "k",
      matchedUpdate = Some(condNewer))
    val got1 = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got1(1L) === "v1", "null clause result must not update")
    // no clauses at all = plain upsert semantics
    TxTable.mergeConditional(spark, root,
      Seq((1L, "plain", 0L)).toDF("k", "v", "seq"), "k")
    val got2 = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2(1L) === "plain")
  }

  test("mergeConditional: txn guard advances on fully-filtered batches and no-ops replays") {
    import spark.implicits._
    val root = condTable("txt-cond-txn")
    // a batch the clauses filter ENTIRELY (stale updates only) still
    // commits its txn watermark — a retry must hit the guard, not the
    // clauses
    val stale = Seq((1L, "stale", 1L, "U")).toDF("k", "v", "seq", "op")
    val v1 = TxTable.mergeConditional(spark, root, stale, "k",
      matchedUpdate = Some(condNewer), txn = Some(("app", 1L)))
    assert(TxTable.lastTxn(root, "app") === Some(1L))
    // replay at the same version: wholesale no-op, version unchanged
    val fresh = Seq((1L, "fresh", 50L, "U")).toDF("k", "v", "seq", "op")
    val v2 = TxTable.mergeConditional(spark, root, fresh, "k",
      matchedUpdate = Some(condNewer), txn = Some(("app", 1L)))
    assert(v2 === v1)
    assert(TxTable.read(spark, root).filter(col("k") === 1L)
      .collect().head.getString(1) === "v1")
    // a higher txn version applies
    TxTable.mergeConditional(spark, root, fresh, "k",
      matchedUpdate = Some(condNewer), txn = Some(("app", 2L)))
    assert(TxTable.read(spark, root).filter(col("k") === 1L)
      .collect().head.getString(1) === "fresh")
  }

  test("mergeConditional: refuses missing columns and type changes (no evolution)") {
    import spark.implicits._
    val root = condTable("txt-cond-types")
    val missing = Seq((1L, "x")).toDF("k", "v")   // seq column absent
    val e1 = intercept[IllegalArgumentException] {
      TxTable.mergeConditional(spark, root, missing, "k")
    }
    assert(e1.getMessage.contains("missing table column"))
    val wrongType = Seq((1L, "x", 1)).toDF("k", "v", "seq") // int, not long
    val e2 = intercept[IllegalArgumentException] {
      TxTable.mergeConditional(spark, root, wrongType, "k")
    }
    assert(e2.getMessage.contains("no schema evolution"))
  }

  // ---- r16: OCC disjoint-commit rebase ------------------------------

  test("OCC rebase: disjoint concurrent merges both commit with zero re-derives") {
    import spark.implicits._
    val (root, base) = mkTable("txt-rebase-dis")
    val updA = (0L until 50L).map(k => (k, s"a$k")).toDF("k", "v")
    val updB = (900L until 950L).map(k => (k, s"b$k")).toDF("k", "v")
    val a0 = TxTable.attemptInvocations.get()
    val r0 = TxTable.rebasedCommits.get()
    TxTable.testRaceInjector.set(new Runnable {
      def run(): Unit = TxTable.merge(spark, root, updB, "k")
    })
    TxTable.merge(spark, root, updA, "k")
    assert(TxTable.attemptInvocations.get() - a0 === 2L,
      "disjoint race must not re-derive either diff")
    assert(TxTable.rebasedCommits.get() - r0 === 1L)
    val expect = rows(Sources.upsert(Sources.upsert(base, updB, "k"), updA, "k"))
    assert(rows(TxTable.read(spark, root)) === expect)
  }

  test("OCC rebase: overlapping concurrent merges re-derive (loser applies on top)") {
    import spark.implicits._
    val (root, base) = mkTable("txt-rebase-ovl")
    val updA = (0L until 50L).map(k => (k, s"a$k")).toDF("k", "v")
    val updB = (25L until 75L).map(k => (k, s"b$k")).toDF("k", "v")
    val a0 = TxTable.attemptInvocations.get()
    val r0 = TxTable.rebasedCommits.get()
    TxTable.testRaceInjector.set(new Runnable {
      def run(): Unit = TxTable.merge(spark, root, updB, "k")
    })
    TxTable.merge(spark, root, updA, "k")
    assert(TxTable.attemptInvocations.get() - a0 === 3L,
      "overlapping race must re-derive the loser exactly once")
    assert(TxTable.rebasedCommits.get() - r0 === 0L)
    // commit order: B first, then A re-derived on top — A wins overlaps
    val expect = rows(Sources.upsert(Sources.upsert(base, updB, "k"), updA, "k"))
    assert(rows(TxTable.read(spark, root)) === expect)
  }

  test("OCC rebase: disjoint delete races a merge without re-derive; schema change forces one") {
    import spark.implicits._
    val (root, base) = mkTable("txt-rebase-del")
    val dels = (0L until 30L).toDF("k")
    val updB = (900L until 930L).map(k => (k, s"b$k")).toDF("k", "v")
    val a0 = TxTable.attemptInvocations.get()
    TxTable.testRaceInjector.set(new Runnable {
      def run(): Unit = TxTable.merge(spark, root, updB, "k")
    })
    TxTable.deleteKeys(spark, root, dels, "k")
    assert(TxTable.attemptInvocations.get() - a0 === 2L)
    val expect = rows(Sources.upsert(base, updB, "k"))
      .filterNot { case (k, _) => k < 30L }
    assert(rows(TxTable.read(spark, root)) === expect)
    // a racer that WIDENS the schema invalidates any rebase: the loser
    // must re-derive — and the re-derive then (correctly, loudly) fails
    // the merge contract, because the loser's updates are missing the
    // column the racer just added. A rebase here would have committed
    // that contract violation silently.
    val b0 = TxTable.attemptInvocations.get()
    val rb0 = TxTable.rebasedCommits.get()
    TxTable.testRaceInjector.set(new Runnable {
      def run(): Unit = TxTable.merge(spark, root,
        (900L until 930L).map(k => (k, s"w$k", 1)).toDF("k", "v", "extra"), "k")
    })
    val ex = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root,
        (100L until 110L).map(k => (k, s"z$k")).toDF("k", "v"), "k")
    }
    assert(ex.getMessage.contains("missing table column"))
    assert(TxTable.attemptInvocations.get() - b0 === 3L,
      "schema-widening racer must force a re-derive")
    assert(TxTable.rebasedCommits.get() - rb0 === 0L)
  }

  // ---- r17: deletion vectors (merge-on-read deletes) ------------------

  private def dataFiles(root: String): Map[String, java.nio.file.attribute.FileTime] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(root, "data")
    val l = java.nio.file.Files.list(d)
    try l.iterator().asScala
      .filter(p => java.nio.file.Files.isRegularFile(p) &&
        !p.getFileName.toString.startsWith("dv-"))
      .map(p => p.getFileName.toString -> java.nio.file.Files.getLastModifiedTime(p))
      .toMap
    finally l.close()
  }

  test("DV delete: zero data files rewritten, reads and stats exact") {
    import spark.implicits._
    val (root, base) = mkTable("txt-dv")                         // v1
    val before = dataFiles(root)
    TxTable.deleteKeysDV(spark, root, (100L until 130L).toDF("k"), "k") // v2
    val after = dataFiles(root)
    assert(after === before,
      "a DV delete must neither rewrite nor add any data file")
    val live = TxTable.snapshot(root)
    assert(live.map(_.name).toSet === before.keySet)
    assert(live.count(_.dv.isDefined) === 1,
      "only the one file whose key range covers 100-129 gets a vector")
    assert(rows(TxTable.read(spark, root)) ===
      rows(base.filter(!col("k").between(100, 129))))
    assert(TxTable.stats(root).numRows === 970)
    // readWhere applies the vector too
    assert(TxTable.readWhere(spark, root, "k", 90L, 140L).count() === 21)
    // delete-of-absent stays a no-op
    val v = TxTable.currentVersion(root)
    assert(TxTable.deleteKeysDV(spark, root,
      Seq(5000L).toDF("k"), "k") === v)
  }

  test("DV delete layers: second vector on the same file unions the keys") {
    import spark.implicits._
    val (root, base) = mkTable("txt-dv2")
    TxTable.deleteKeysDV(spark, root, (100L until 110L).toDF("k"), "k")
    val dv1 = TxTable.snapshot(root).flatMap(_.dv)
    TxTable.deleteKeysDV(spark, root, (105L until 120L).toDF("k"), "k")
    val dv2 = TxTable.snapshot(root).flatMap(_.dv)
    assert(dv1.size === 1 && dv2.size === 1 && dv1.head != dv2.head,
      "the re-stamped entry must reference exactly one, newer sidecar")
    assert(rows(TxTable.read(spark, root)) ===
      rows(base.filter(!col("k").between(100, 119))))
    assert(TxTable.stats(root).numRows === 980)
  }

  test("DV delete: whole-file-dead removes the entry with zero rewrites") {
    import spark.implicits._
    val (root, _) = mkTable("txt-dvdead")
    val before = dataFiles(root)
    val victim = TxTable.snapshot(root).head   // covers keys 0..249
    TxTable.deleteKeysDV(spark, root,
      (victim.kmin to victim.kmax).toDF("k"), "k")
    assert(dataFiles(root) === before, "zero rewrites even for a dead file")
    val live = TxTable.snapshot(root)
    assert(live.size === 3 && !live.exists(_.name == victim.name))
    assert(TxTable.read(spark, root).count() === 750)
  }

  test("DV + compaction: rewrite materializes the vector away; vacuum reclaims the sidecar") {
    import spark.implicits._
    val (root, base) = mkTable("txt-dvcomp")                     // v1
    TxTable.deleteKeysDV(spark, root, (0L until 50L).toDF("k"), "k") // v2
    val sidecar = TxTable.snapshot(root).flatMap(_.dv).head
    TxTable.compactClustered(spark, root, "k", 2)                // v3
    val live = TxTable.snapshot(root)
    assert(live.forall(_.dv.isEmpty), "compaction must materialize DVs")
    assert(rows(TxTable.read(spark, root)) ===
      rows(base.filter(col("k") >= 50)))
    // the sidecar is still referenced by the retained v2 → survives
    assert(TxTable.vacuum(root, keepVersions = 1, minAgeMillis = 0)
      .forall(_ != sidecar))
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "data", sidecar)))
    // head-only retention: v2's vector (and v1's file) become garbage
    val gone = TxTable.vacuum(root, keepVersions = 0, minAgeMillis = 0)
    assert(gone.contains(sidecar), "an unreferenced sidecar is vacuum garbage")
    assert(TxTable.read(spark, root).count() === 950)
  }

  test("DV + merge: touched vectored file materializes; reinsert of a DV'd key works") {
    import spark.implicits._
    val (root, base) = mkTable("txt-dvmerge")
    TxTable.deleteKeysDV(spark, root, (100L until 120L).toDF("k"), "k")
    // merge re-inserting one vectored key and updating a live neighbor
    TxTable.merge(spark, root,
      Seq((105L, "back"), (130L, "upd")).toDF("k", "v"), "k")
    val live = TxTable.snapshot(root)
    assert(live.forall(_.dv.isEmpty),
      "the merge rewrote the only vectored file — no vector survives")
    val expect = rows(base.filter(!col("k").between(100, 119)))
      .+((105L, "back")) - ((130L, "v130")) + ((130L, "upd"))
    assert(rows(TxTable.read(spark, root)) === expect)
  }

  test("DV + time travel + restore") {
    import spark.implicits._
    val (root, base) = mkTable("txt-dvtt")                       // v1
    TxTable.deleteKeysDV(spark, root, (200L until 240L).toDF("k"), "k") // v2
    TxTable.merge(spark, root, Seq((900L, "u900")).toDF("k", "v"), "k") // v3
    // travel: v1 sees everything, v2 applies the vector
    assert(TxTable.read(spark, root, Some(1L)).count() === 1000)
    assert(TxTable.read(spark, root, Some(2L)).count() === 960)
    // restore to v1 resurrects the vectored keys (a new commit)
    TxTable.restore(root, "k", 1L)                               // v4
    assert(rows(TxTable.read(spark, root)) === rows(base))
    // restore to the vectored v2 re-applies it — and must validate the
    // sidecar's existence like any file
    TxTable.restore(root, "k", 2L)                               // v5
    assert(TxTable.read(spark, root).count() === 960)
    val sidecar = TxTable.snapshot(root).flatMap(_.dv).head
    TxTable.restore(root, "k", 1L)                               // v6
    java.nio.file.Files.delete(java.nio.file.Paths.get(root, "data", sidecar))
    val e = intercept[IllegalArgumentException] {
      TxTable.restore(root, "k", 2L)
    }
    assert(e.getMessage.contains("vacuumed") && e.getMessage.contains(sidecar))
  }

  test("DV + change feed: newly vectored keys emit as deletes, work ∝ touched file") {
    import spark.implicits._
    val (root, _) = mkTable("txt-dvcdc")                         // v1
    TxTable.deleteKeysDV(spark, root, (300L until 320L).toDF("k"), "k") // v2
    val ch = TxTable.changes(spark, root, 1L, 2L)
    val types = ch.groupBy("_change_type").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(types === Map("delete" -> 20L))
    assert(ch.select("k").as[Long].collect().toSet ===
      (300L until 320L).toSet)
  }

  // ---- r17: CHECK constraints at commit time --------------------------

  test("CHECK constraints: violating merge refused atomically, passing merge commits") {
    import spark.implicits._
    val root = tempDir("txt-check").toString + "/tbl"
    val base = (0L until 100L).map(k => (k, k * 10.0)).toDF("k", "price")
    TxTable.create(spark, base, root, "k",
      invariants = Seq("price_nonneg" -> "price >= 0"))
    assert(TxTable.invariantsOf(root) === Map("price_nonneg" -> "price >= 0"))
    val v = TxTable.currentVersion(root)
    val files = TxTable.snapshot(root).map(_.name).toSet
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root,
        Seq((5L, -1.0), (6L, 60.0)).toDF("k", "price"), "k")
    }
    assert(e.getMessage.contains("price_nonneg") &&
      e.getMessage.contains("1 row(s)"))
    assert(TxTable.currentVersion(root) === v,
      "a refused commit must leave the version untouched")
    assert(TxTable.snapshot(root).map(_.name).toSet === files)
    assert(TxTable.read(spark, root).filter(col("price") < 0).count() === 0)
    TxTable.merge(spark, root, Seq((5L, 55.0)).toDF("k", "price"), "k")
    assert(TxTable.currentVersion(root) === v + 1)
    // mergeConditional enforces the same contract
    val e2 = intercept[IllegalArgumentException] {
      TxTable.mergeConditional(spark, root,
        Seq((7L, -2.0)).toDF("k", "price"), "k")
    }
    assert(e2.getMessage.contains("price_nonneg"))
  }

  test("CHECK constraints: create-time validation, NULL passes, checkpoint survival") {
    import spark.implicits._
    val root = tempDir("txt-check2").toString + "/tbl"
    // create-time: a violating initial load is refused before any write
    val eb = intercept[IllegalArgumentException] {
      TxTable.create(spark, Seq((1L, "bad")).toDF("k", "tag"), root, "k",
        invariants = Seq("tag_ok" -> "tag <> 'bad'"))
    }
    assert(eb.getMessage.contains("tag_ok"))
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "_graft_log")))
    // SQL CHECK semantics: a NULL predicate result passes
    TxTable.create(spark,
      (0L until 20L).map(k => (k, s"t$k")).toDF("k", "tag"), root, "k",
      invariants = Seq("tag_ok" -> "tag <> 'bad'"))
    TxTable.merge(spark, root,
      Seq((3L, null.asInstanceOf[String])).toDF("k", "tag"), "k")
    assert(TxTable.read(spark, root).filter(col("tag").isNull).count() === 1)
    // cross a checkpoint (interval 10): the invariant must survive replay
    (1L to 11L).foreach(i =>
      TxTable.merge(spark, root, Seq((i, s"u$i")).toDF("k", "tag"), "k"))
    assert(TxTable.invariantsOf(root) === Map("tag_ok" -> "tag <> 'bad'"))
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root, Seq((4L, "bad")).toDF("k", "tag"), "k")
    }
    assert(e.getMessage.contains("tag_ok"),
      "an invariant only in pre-checkpoint records would silently vanish")
  }

  // ---- r17: incremental OPTIMIZE + log retention -----------------------

  test("compactBinPack: packs only the small files, range-adjacent, rows identical") {
    import spark.implicits._
    val (root, base) = mkTable("txt-binpack")          // 4 files × 250 rows
    val big = TxTable.snapshot(root)
    // six 2-row ingest bursts in disjoint bands above the base range
    (1 to 6).foreach { i =>
      TxTable.merge(spark, root,
        Seq((1000L + i * 10, s"s$i"), (1001L + i * 10, s"t$i")).toDF("k", "v"),
        "k")
    }
    val bigNames = big.map(_.name).toSet
    def mtimes(): Map[String, java.nio.file.attribute.FileTime] = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      try l.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(p => p.getFileName.toString ->
          java.nio.file.Files.getLastModifiedTime(p)).toMap
      finally l.close()
    }
    val before = mtimes()
    val smallBefore = TxTable.snapshot(root).count(f => !bigNames.contains(f.name))
    TxTable.compactBinPack(spark, root, "k", smallRows = 100L, targetRows = 6L)
    assert(bigNames.forall(n => mtimes().get(n) == before.get(n)),
      "OPTIMIZE must leave the big files byte-untouched")
    val live = TxTable.snapshot(root)
    val packed = live.filter(f => !bigNames.contains(f.name))
    assert(packed.size < smallBefore, "small files must pack")
    // range adjacency preserved: packed files' key ranges are disjoint
    val sorted = packed.sortBy(_.kmin)
    assert(sorted.zip(sorted.drop(1)).forall { case (a, b) => a.kmax < b.kmin },
      "packed outputs must keep disjoint key ranges for pruning")
    val expect = rows(base) ++ (1 to 6).flatMap(i =>
      Seq((1000L + i * 10, s"s$i"), (1001L + i * 10, s"t$i")))
    assert(rows(TxTable.read(spark, root)) === expect.toSet)
    // the steady state: nothing small remains unpacked → no-op commit
    val v = TxTable.currentVersion(root)
    TxTable.compactBinPack(spark, root, "k", smallRows = 3L, targetRows = 6L)
    assert(TxTable.currentVersion(root) === v,
      "an OPTIMIZE with nothing to pack must not commit")
  }

  test("cleanupLog: bounded log metadata; loud below the horizon; txns survive") {
    import spark.implicits._
    val (root, _) = mkTable("txt-logret")                        // v1
    (1 to 12).foreach { i =>                                     // v2..v13
      TxTable.merge(spark, root,
        Seq((i.toLong, s"u$i")).toDF("k", "v"), "k",
        txn = if (i == 4) Some(("app", 5L)) else None)
    }
    // nothing reclaimable while the horizon predates every checkpoint
    assert(TxTable.cleanupLog(root, keepVersions = 20).isEmpty)
    val gone = TxTable.cleanupLog(root, keepVersions = 2)
    assert(gone.contains("v0000000001.json") &&
      gone.contains("v0000000010.json") && !gone.exists(_.contains("0011")))
    // head unchanged, the checkpoint version readable, below it loud
    assert(TxTable.read(spark, root).count() === 1000)
    assert(TxTable.read(spark, root, Some(10L)).count() === 1000)
    val e = intercept[IllegalArgumentException] {
      TxTable.read(spark, root, Some(9L))
    }
    assert(e.getMessage.contains("retention horizon"))
    // the idempotence watermark recorded BEFORE the horizon survives
    // via the checkpoint, not the (deleted) commit records
    assert(TxTable.lastTxn(root, "app") === Some(5L))
    assert(TxTable.history(spark, root).count() === 3)
    assert(TxTable.currentVersion(root) === 13L)
  }

  // ---- r17: blind append ------------------------------------------------

  test("append: adds-only, zero rewrites, schema enforced, merge interplay") {
    import spark.implicits._
    val (root, base) = mkTable("txt-append")
    val before = dataFiles(root)
    TxTable.append(spark, root,
      (2000L until 2020L).map(k => (k, s"a$k")).toDF("k", "v"), "k")
    assert(dataFiles(root).filterKeys(before.contains).toMap === before,
      "append must not touch existing files")
    assert(TxTable.read(spark, root).count() === 1020)
    // schema contract: missing column and type change both refuse
    val e1 = intercept[IllegalArgumentException] {
      TxTable.append(spark, root, Seq(Tuple1(1L)).toDF("k"), "k")
    }
    assert(e1.getMessage.contains("missing table column"))
    val e2 = intercept[IllegalArgumentException] {
      TxTable.append(spark, root, Seq((1L, 2)).toDF("k", "v"), "k")
    }
    assert(e2.getMessage.contains("no schema evolution on append"))
    // a later merge treats appended keys like any others
    TxTable.merge(spark, root, Seq((2005L, "merged")).toDF("k", "v"), "k")
    assert(rows(TxTable.read(spark, root)) ===
      rows(base) ++ (2000L until 2020L).map(k =>
        (k, if (k == 2005L) "merged" else s"a$k")))
    // the appended files' key stats prune: that merge touched only
    // the appended range, never the base files
    assert(dataFiles(root).filterKeys(before.contains).toMap === before)
  }

  test("append: txn guard, empty-batch watermark, CDC inserts, OCC race") {
    import spark.implicits._
    val root = tempDir("txt-append2").toString + "/tbl"
    TxTable.create(spark,
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v"), root, "k",
      cdc = true)
    TxTable.append(spark, root,
      (200L until 210L).map(k => (k, s"a$k")).toDF("k", "v"), "k",
      txn = Some(("ing", 1L)))
    val v = TxTable.currentVersion(root)
    // at-least-once replay no-ops; an empty batch still advances
    TxTable.append(spark, root,
      (200L until 210L).map(k => (k, s"a$k")).toDF("k", "v"), "k",
      txn = Some(("ing", 1L)))
    assert(TxTable.currentVersion(root) === v)
    TxTable.append(spark, root,
      Seq.empty[(Long, String)].toDF("k", "v"), "k", txn = Some(("ing", 2L)))
    assert(TxTable.lastTxn(root, "ing") === Some(2L))
    assert(TxTable.read(spark, root).count() === 110)
    // cdc: the appended rows arrive as inserts in the feed
    val ch = TxTable.changes(spark, root, 1L, v)
    assert(ch.filter(col("_change_type") === "insert").count() === 10)
    // two appends racing: both land (rebase or re-derive, never lost)
    val a0 = TxTable.attemptInvocations.get()
    TxTable.testRaceInjector.set(new Runnable {
      def run(): Unit = { TxTable.append(spark, root,
        Seq((900L, "race")).toDF("k", "v"), "k"); () }
    })
    TxTable.append(spark, root, Seq((950L, "main")).toDF("k", "v"), "k")
    assert(TxTable.attemptInvocations.get() - a0 === 2L,
      "disjoint racing appends must not re-derive")
    val got = rows(TxTable.read(spark, root))
    assert(got.contains((900L, "race")) && got.contains((950L, "main")))
  }

  // ---- r17: write-time CDC files ---------------------------------------

  test("CDC files: feed parity with the diff replay, across every operation kind") {
    import spark.implicits._
    def build(prefix: String, cdc: Boolean): String = {
      val root = tempDir(prefix).toString + "/tbl"
      val base = (0L until 200L).map(k => (k, s"v$k", 0L)).toDF("k", "v", "seq")
        .repartitionByRange(2, col("k"))
      TxTable.create(spark, base, root, "k", cdc = cdc)
      // merge: an insert, a real update, and a NO-OP update (same row)
      TxTable.merge(spark, root,
        Seq((500L, "ins", 1L), (5L, "upd", 1L), (6L, "v6", 0L))
          .toDF("k", "v", "seq"), "k")
      // conditional merge: delete-op, stale update (kept), fresh update
      val del: TxTable.MergeCond = (s, _) => s("v") === "DEL"
      val newer: TxTable.MergeCond = (s, t) => s("seq") > t("seq")
      TxTable.mergeConditional(spark, root,
        Seq((10L, "DEL", 9L), (11L, "stale", -1L), (12L, "fresh", 3L))
          .toDF("k", "v", "seq"), "k",
        matchedDelete = Some(del), matchedUpdate = Some(newer))
      TxTable.deleteKeys(spark, root, Seq(20L, 21L).toDF("k"), "k")
      TxTable.deleteKeysDV(spark, root, Seq(30L, 31L).toDF("k"), "k")
      root
    }
    // a widening merge: an added column plus int→long, with a real
    // update, a no-op update (equal once widened) and an insert
    def buildWide(prefix: String, cdc: Boolean): String = {
      val root = tempDir(prefix).toString + "/tbl"
      TxTable.create(spark, (0L until 200L).map(k => (k, s"v$k", k.toInt))
        .toDF("k", "v", "n").repartitionByRange(2, col("k")), root, "k",
        cdc = cdc)
      TxTable.merge(spark, root, Seq[(Long, String, Long, String)](
          (5L, "upd", 5L, "x"), (6L, "v6", 6L, null), (500L, "ins", 1L, "y"))
        .toDF("k", "v", "n", "extra"), "k")
      root
    }
    val plain = build("txt-cdc-plain", cdc = false)
    val withCdc = build("txt-cdc-on", cdc = true)
    def feed(root: String): Set[Seq[Any]] =
      TxTable.changes(spark, root, 1L, TxTable.currentVersion(root))
        .collect().map(_.toSeq).toSet
    val expected = feed(plain)
    assert(feed(withCdc) === expected,
      "materialized change files must equal the diff replay exactly")
    val wide = feed(buildWide("txt-cdc-wide-on", cdc = true))
    assert(wide === feed(buildWide("txt-cdc-wide-plain", cdc = false)),
      "a widening merge's change files must equal the diff replay exactly")
    assert(wide === Set[Seq[Any]](
      Seq(5L, "v5", 5L, null, "update_preimage", 2L),
      Seq(5L, "upd", 5L, "x", "update_postimage", 2L),
      Seq(500L, "ins", 1L, "y", "insert", 2L)))
    // the materialized feed needs NO data files: physically delete
    // every non-cdc file and ask again
    import scala.jdk.CollectionConverters._
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(withCdc, "data"))
    val doomed = try l.iterator().asScala
      .filter(p => !p.getFileName.toString.startsWith("cdc-")).toSeq
      finally l.close()
    doomed.foreach(java.nio.file.Files.delete(_))
    assert(feed(withCdc) === expected,
      "the feed must serve from the change files alone")
  }

  test("CDC files: vacuum keeps the retained window's change files, reclaims older") {
    import spark.implicits._
    val root = tempDir("txt-cdc-vac").toString + "/tbl"
    TxTable.create(spark,
      (0L until 100L).map(k => (k, s"v$k")).toDF("k", "v"), root, "k",
      cdc = true)                                                   // v1
    TxTable.merge(spark, root, Seq((1L, "a")).toDF("k", "v"), "k")  // v2
    TxTable.merge(spark, root, Seq((2L, "b")).toDF("k", "v"), "k")  // v3
    def cdcOnDisk(): Set[String] = {
      import scala.jdk.CollectionConverters._
      val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
      try l.iterator().asScala.map(_.getFileName.toString)
        .filter(_.startsWith("cdc-")).toSet
      finally l.close()
    }
    assert(cdcOnDisk().count(_.startsWith("cdc-0000000002")) > 0)
    // keepVersions=1 → horizon v2: v2's and v3's change files survive
    TxTable.vacuum(root, keepVersions = 1, minAgeMillis = 0)
    assert(cdcOnDisk().count(_.startsWith("cdc-0000000002")) > 0)
    assert(TxTable.changes(spark, root, 1L, 3L)
      .filter(col("_change_type") === "update_postimage").count() === 2)
    // head-only retention: v2's change file is now reclaimable
    TxTable.vacuum(root, keepVersions = 0, minAgeMillis = 0)
    assert(cdcOnDisk().count(_.startsWith("cdc-0000000002")) === 0)
    assert(cdcOnDisk().count(_.startsWith("cdc-0000000003")) > 0)
  }

  // ---- r17: shallow clone ---------------------------------------------

  private def dataDirNames(root: String): Set[String] = {
    import scala.jdk.CollectionConverters._
    val d = java.nio.file.Paths.get(root, "data")
    if (!java.nio.file.Files.isDirectory(d)) return Set.empty
    val l = java.nio.file.Files.list(d)
    try l.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
      .map(_.getFileName.toString).toSet
    finally l.close()
  }

  test("shallow clone: zero-copy, vectors carried, branches diverge independently") {
    import spark.implicits._
    val (root, base) = mkTable("txt-clone")
    TxTable.deleteKeysDV(spark, root, (100L until 120L).toDF("k"), "k")
    val dest = tempDir("txt-clone-dst").toString + "/tbl"
    TxTable.cloneShallow(root, dest)
    assert(dataDirNames(dest).isEmpty, "a shallow clone must copy zero bytes")
    val branchPoint = rows(base.filter(!col("k").between(100, 119)))
    assert(rows(TxTable.read(spark, dest)) === branchPoint,
      "the clone must read the source snapshot, source DV applied")
    // diverge both ways: merge into the clone, delete in the source
    TxTable.merge(spark, dest, Seq((5L, "clone5")).toDF("k", "v"), "k")
    TxTable.deleteKeys(spark, root, Seq(6L).toDF("k"), "k")
    val cloneRows = rows(TxTable.read(spark, dest))
    assert(cloneRows.contains((5L, "clone5")) && cloneRows.contains((6L, "v6")),
      "the source's post-clone delete must be invisible to the clone")
    val srcRows = rows(TxTable.read(spark, root))
    assert(!srcRows.exists(_._1 == 6L) && srcRows.contains((5L, "v5")),
      "the clone's merge must be invisible to the source")
    // the clone's own maintenance stays local: compaction materializes
    // it fully into its own data dir
    TxTable.compactClustered(spark, dest, "k", 2)
    assert(TxTable.snapshot(dest).forall(f =>
      dataDirNames(dest).contains(f.name)),
      "a compacted clone must be fully local")
  }

  test("shallow clone: asOf branch point, invariants carried, non-empty dest refused") {
    import spark.implicits._
    val root = tempDir("txt-clone2").toString + "/tbl"
    TxTable.create(spark,
      (0L until 50L).map(k => (k, k * 1.0)).toDF("k", "price"), root, "k",
      invariants = Seq("pos" -> "price >= 0"))                    // v1
    TxTable.merge(spark, root,
      Seq((3L, 333.0)).toDF("k", "price"), "k")                   // v2
    val dest = tempDir("txt-clone2-dst").toString + "/tbl"
    TxTable.cloneShallow(root, dest, asOf = Some(1L))
    val vals = TxTable.read(spark, dest).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(vals(3L) === 3.0, "asOf clone must branch at the pinned version")
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, dest, Seq((4L, -1.0)).toDF("k", "price"), "k")
    }
    assert(e.getMessage.contains("pos"),
      "CHECK invariants must carry into the clone")
    val e2 = intercept[IllegalArgumentException] {
      TxTable.cloneShallow(root, dest)
    }
    assert(e2.getMessage.contains("already has a log"))
  }

  test("shallow clone: vacuuming the source breaks the clone loudly (branch, not backup)") {
    import spark.implicits._
    val (root, _) = mkTable("txt-clone3")
    val dest = tempDir("txt-clone3-dst").toString + "/tbl"
    TxTable.cloneShallow(root, dest)
    // the source rewrites everything, then reclaims the clone's bytes
    TxTable.compact(spark, root, "k", 2)
    TxTable.vacuum(root, keepVersions = 0, minAgeMillis = 0)
    val e = intercept[Exception] { TxTable.read(spark, dest).count() }
    assert(e != null, "a clone over vacuumed source bytes must fail, not lie")
  }

  test("DV idempotence: txn-stamped replay no-ops; empty batch advances the watermark") {
    import spark.implicits._
    val (root, _) = mkTable("txt-dvtxn")
    TxTable.deleteKeysDV(spark, root, (10L until 20L).toDF("k"), "k",
      txn = Some(("dvapp", 1L)))
    val v = TxTable.currentVersion(root)
    // replay of batch 1: the guard must no-op it wholesale
    TxTable.deleteKeysDV(spark, root, (10L until 20L).toDF("k"), "k",
      txn = Some(("dvapp", 1L)))
    assert(TxTable.currentVersion(root) === v)
    assert(TxTable.read(spark, root).count() === 990)
    // batch 2 deletes nothing — but must still advance the watermark
    TxTable.deleteKeysDV(spark, root, Seq(9999L).toDF("k"), "k",
      txn = Some(("dvapp", 2L)))
    assert(TxTable.lastTxn(root, "dvapp") === Some(2L))
    assert(TxTable.read(spark, root).count() === 990)
  }

  // ---- r18: MERGE UPDATE-SET expressions ----------------------------

  test("SET expressions: additive combine, unnamed columns keep target, inserts take source") {
    import spark.implicits._
    val root = tempDir("txt-set").toString + "/tbl"
    val base = Seq((1L, 100L, "a"), (2L, 200L, "b"), (3L, 300L, "c"))
      .toDF("k", "cnt", "tag")
    TxTable.create(spark, base, root, "k")
    // delta: k=1 and k=2 matched (cnt adds, tag NOT named → target's
    // value survives the partial update), k=9 fresh (source verbatim —
    // a new key's initial value IS its delta)
    val delta = Seq((1L, 10L, "X"), (2L, 20L, "Y"), (9L, 9L, "z"))
      .toDF("k", "cnt", "tag")
    TxTable.mergeConditional(spark, root, delta, "k",
      matchedUpdateSet = Some(Map(
        "cnt" -> ((sc, tc) => tc("cnt") + sc("cnt")))))
    val got = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(got(1L) === ((110L, "a")), "SET must add; unnamed tag keeps target")
    assert(got(2L) === ((220L, "b")))
    assert(got(3L) === ((300L, "c")), "untouched key unchanged")
    assert(got(9L) === ((9L, "z")), "fresh key inserts the source row verbatim")
  }

  test("SET expressions: key cannot be SET; unknown columns refused; result casts to declared type") {
    import spark.implicits._
    val root = tempDir("txt-set-guard").toString + "/tbl"
    TxTable.create(spark, Seq((1L, 5L)).toDF("k", "n"), root, "k")
    val d = Seq((1L, 2L)).toDF("k", "n")
    val e1 = intercept[IllegalArgumentException] {
      TxTable.mergeConditional(spark, root, d, "k",
        matchedUpdateSet = Some(Map("k" -> ((sc, _) => sc("k") + 1))))
    }
    assert(e1.getMessage.contains("key column"))
    val e2 = intercept[IllegalArgumentException] {
      TxTable.mergeConditional(spark, root, d, "k",
        matchedUpdateSet = Some(Map("nope" -> ((sc, _) => sc("n")))))
    }
    assert(e2.getMessage.contains("unknown column"))
    // a double-typed expression over a BIGINT column casts back to the
    // declared type — the schema invariant survives arbitrary arithmetic
    TxTable.mergeConditional(spark, root, d, "k",
      matchedUpdateSet = Some(Map(
        "n" -> ((sc, tc) => (tc("n") + sc("n")) * lit(1.5)))))
    val f = TxTable.read(spark, root)
    assert(f.schema("n").dataType ===
      org.apache.spark.sql.types.LongType, "declared type must survive SET")
    assert(f.collect().head.getLong(1) === 10L) // (5+2)*1.5 = 10.5 → 10
  }

  test("SET expressions: gates compose; CDC postimage carries the SET result; no-op rows not emitted") {
    import spark.implicits._
    val root = tempDir("txt-set-cdc").toString + "/tbl"
    TxTable.create(spark, Seq((1L, 10L, 100L), (2L, 20L, 100L))
      .toDF("k", "n", "seq"), root, "k", cdc = true)
    // k=1: seq newer → gate passes, SET adds; k=2: stale → target kept
    // (and must NOT appear in the feed — keeping the target is not a
    // change); zero-delta SET results are no-ops too
    val d = Seq((1L, 7L, 200L), (2L, 9L, 50L)).toDF("k", "n", "seq")
    val v = TxTable.mergeConditional(spark, root, d, "k",
      matchedUpdate = Some((sc, tc) => sc("seq") > tc("seq")),
      matchedUpdateSet = Some(Map(
        "n" -> ((sc, tc) => tc("n") + sc("n")),
        "seq" -> ((sc, _) => sc("seq")))))
    val got = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got(1L) === ((17L, 200L)))
    assert(got(2L) === ((20L, 100L)), "stale delta must keep the target")
    val feed = TxTable.changes(spark, root, v - 1, v).collect()
      .map(r => (r.getAs[String]("_change_type"), r.getAs[Long]("k"),
        r.getAs[Long]("n")))
    assert(feed.toSet === Set(("update_preimage", 1L, 10L),
        ("update_postimage", 1L, 17L)),
      s"feed must carry the SET result for k=1 only, got ${feed.toSeq}")
  }

  test("SET merge reads only touched files: an untouched file may be physically absent") {
    import spark.implicits._
    val root = tempDir("txt-set-prune").toString + "/tbl"
    val base = (0L until 400L).map(k => (k, 1L)).toDF("k", "cnt")
      .repartitionByRange(4, col("k"))   // 4 files, disjoint ranges
    TxTable.create(spark, base, root, "k")
    // q87-style physical proof: move a file whose range the delta does
    // NOT touch out of the way — if the SET merge's combine read the
    // whole sink (the pre-r18 weak posture), it would fail on the
    // missing file; touched-files-only pruning never lists it
    val entries = TxTable.snapshot(root)
    val untouched = entries.filter(f => f.kmin >= 300L)
    assert(untouched.nonEmpty, "need a file fully above the delta range")
    val dataDir = java.nio.file.Paths.get(root, "data")
    val hidden = untouched.map { f =>
      val p = dataDir.resolve(f.name)
      val h = dataDir.resolve(f.name + ".hidden")
      java.nio.file.Files.move(p, h); (h, p)
    }
    try {
      val delta = (0L until 100L).map(k => (k, 10L)).toDF("k", "cnt")
      TxTable.mergeConditional(spark, root, delta, "k",
        matchedUpdateSet = Some(Map(
          "cnt" -> ((sc, tc) => tc("cnt") + sc("cnt")))))
    } finally hidden.foreach { case (h, p) => java.nio.file.Files.move(h, p) }
    val got = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((0L until 100L).forall(k => got(k) === 11L))
    assert((100L until 400L).forall(k => got(k) === 1L))
  }

  // ---- r19: merge's guard + pruning are ONE action ------------------

  test("merge: uniqueness guard and file pruning share one job (constant job count)") {
    import spark.implicits._
    val root = tempDir("txt-merge-jobs").toString + "/tbl"
    val base = (0L until 6400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(64, col("k"))
    TxTable.create(spark, base, root, "k")
    assert(TxTable.snapshot(root).size === 64)
    val upd = (0L until 100L).map(k => (k, "u")).toDF("k", "v")
    val group = "txt-merge-jobs-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "banded merge")
    val jobs = try {
      TxTable.merge(spark, root, upd, "k")
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    } finally spark.sparkContext.clearJobGroup()
    // the source checkpoint, ONE guard/prune probe whose result rides
    // the observed metrics of the stage after the key shuffle, and the
    // staged write (footer stats add no job), each fanned into AQE
    // stage jobs. A probe ending in a single-partition aggregate and a
    // collect makes it 8; three more actions per commit (keyCnt
    // checkpoint, dup-limit collect, cast-null probe) made it 11.
    assert(jobs === 7,
      s"merge ran $jobs jobs — guard, pruning and write must stay a " +
        "constant few actions per commit")
    val got = TxTable.read(spark, root).filter(col("k") < 100).collect()
    assert(got.forall(_.getString(1) == "u"))
  }

  test("one commit path: no-op batches, replays and watermark-only records") {
    import spark.implicits._
    val none = Seq.empty[(Long, String)].toDF("k", "v")
    // each writer over a one-row batch (empty = false) or an empty one
    def batch(empty: Boolean) = if (empty) none else Seq((2000L, "x")).toDF("k", "v")
    def dead(empty: Boolean) = if (empty) none.select("k") else Seq(5L).toDF("k")
    type Writer = (String, Boolean, Option[(String, Long)]) => Long
    val writers: Seq[(String, Writer)] = Seq(
      "merge" -> ((r, e, t) => TxTable.merge(spark, r, batch(e), "k", t)),
      "mergeConditional" -> ((r, e, t) =>
        TxTable.mergeConditional(spark, r, batch(e), "k", txn = t)),
      "append" -> ((r, e, t) => TxTable.append(spark, r, batch(e), "k", t)),
      "deleteWhere" -> ((r, e, t) => TxTable.deleteWhere(spark, r,
        Seq(if (e) ("k", -2L, -1L) else ("k", 5L, 5L)), t)),
      "deleteKeysDV" -> ((r, e, t) => TxTable.deleteKeysDV(spark, r, dead(e), "k", t)))
    writers.foreach { case (name, write) =>
      val (root, base) = mkTable(s"txt-one-path-$name")
      val v1 = TxTable.currentVersion(root)
      // an empty batch without a stamp commits nothing
      assert(write(root, true, None) === v1, name)
      // a stamped batch applies; replaying its stamp commits nothing
      // and returns the head
      val v2 = write(root, false, Some(("app", 1L)))
      assert(v2 === v1 + 1, name)
      val applied = rows(TxTable.read(spark, root))
      assert(applied !== rows(base), name)
      assert(write(root, false, Some(("app", 1L))) === v2, name)
      assert(TxTable.currentVersion(root) === v2, name)
      // a stamped empty batch commits a watermark-only record
      val v3 = write(root, true, Some(("app", 2L)))
      assert(v3 === v2 + 1, name)
      assert(TxTable.lastTxn(root, "app") === Some(2L), name)
      val rec = TxTable.history(spark, root).filter(col("version") === v3).head
      assert(rec.getAs[Int]("n_added_files") === 0 &&
        rec.getAs[Int]("n_removed_files") === 0, name)
      assert(rows(TxTable.read(spark, root)) === applied, name)
    }
    // the same rule for deleteKeys, and for an empty frame with a plan
    val (root, base) = mkTable("txt-empty-probe")
    val v = TxTable.currentVersion(root)
    TxTable.merge(spark, root, base.filter(col("k") < 0), "k")
    TxTable.deleteKeys(spark, root, none.select("k"), "k")
    assert(TxTable.currentVersion(root) === v)
    assert(rows(TxTable.read(spark, root)) === rows(base))
  }

  test("a caller key that is not the table's key is refused; nothing commits") {
    import spark.implicits._
    val (root, base) = mkTable("txt-wrong-key")
    val v = TxTable.currentVersion(root)
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root, Seq((1L, "v5")).toDF("k", "v"), "v")
    }
    assert(e.getMessage.contains("'v'") && e.getMessage.contains("'k'"),
      e.getMessage)
    intercept[IllegalArgumentException](TxTable.compact(spark, root, "v"))
    assert(TxTable.currentVersion(root) === v)
    assert(rows(TxTable.read(spark, root)) === rows(base))
  }

  // ---- r18: scattered DV deletes are O(1) Spark jobs ----------------

  test("deleteKeysDV: a scattered delete over 64 files costs O(1) jobs, not O(files)") {
    import spark.implicits._
    val root = tempDir("txt-dv-jobs").toString + "/tbl"
    val base = (0L until 6400L).map(k => (k, s"v$k")).toDF("k", "v")
      .repartitionByRange(64, col("k"))
    TxTable.create(spark, base, root, "k")
    assert(TxTable.snapshot(root).size === 64)
    // %5==0 — st44's compliance shape: uniformly scattered, every file
    // touched; the pre-r18 per-file driver loop paid ~4 jobs × 64 files
    val dels = (0L until 6400L by 5L).toDF("k")
    // count Spark jobs via a job group + the public status tracker —
    // synchronous, unlike the async listener bus
    val group = "txt-dv-jobs-" + System.nanoTime()
    spark.sparkContext.setJobGroup(group, "scattered DV delete")
    val jobs = try {
      TxTable.deleteKeysDV(spark, root, dels, "k")
      spark.sparkContext.statusTracker.getJobIdsForGroup(group).length
    } finally spark.sparkContext.clearJobGroup()
    // ~23 observed: a handful of actions (checkpoint the delete set,
    // prune, fresh-pairs checkpoint, two count aggregates, one
    // partitioned sidecar write), each fanned into a few AQE stage
    // jobs — CONSTANT in the file count. The pre-r18 per-file driver
    // loop paid ~4 actions × 64 files ≈ 250+; the bound discriminates
    // by an order of magnitude while leaving AQE headroom.
    assert(jobs <= 30,
      s"scattered DV delete ran $jobs jobs — the sidecar pass " +
        "must be a constant number of distributed jobs, not per-file")
    assert(TxTable.read(spark, root).count() === 6400L - 1280L)
    assert(TxTable.snapshot(root).count(_.dv.isDefined) === 64)
  }

  // ---- r18: predicate-scoped DELETE ---------------------------------

  test("deleteWhere: key-range purge equals deleteKeys; covered files drop without being read") {
    import spark.implicits._
    val (root, base) = mkTable("txt-delw")   // 4 range files over 0..999
    val (covered, partial, untouched) =
      TxTable.deleteWhereFiles(root, Seq(("k", 0L, 499L)))
    assert(covered.size === 2 && untouched.size === 2 && partial.isEmpty,
      s"range-clustered halves must classify clean: " +
        s"${covered.size}/${partial.size}/${untouched.size}")
    // q87-style proof: covered files are dropped from the LOG alone —
    // physically hide them and the DELETE must still commit
    val dataDir = java.nio.file.Paths.get(root, "data")
    val hidden = covered.map { f =>
      val p = dataDir.resolve(f.name)
      val h = dataDir.resolve(f.name + ".hidden")
      java.nio.file.Files.move(p, h); (h, p)
    }
    try TxTable.deleteWhere(spark, root, Seq(("k", 0L, 499L)))
    finally hidden.foreach { case (h, p) =>
      if (java.nio.file.Files.exists(h)) java.nio.file.Files.move(h, p) }
    assert(rows(TxTable.read(spark, root)) ===
      rows(base.filter(col("k") > 499L)))
    // equivalence: same predicate as an explicit key set
    val (root2, _) = mkTable("txt-delw-eq")
    TxTable.deleteKeys(spark, root2,
      (0L until 500L).toDF("k"), "k")
    assert(rows(TxTable.read(spark, root2)) === rows(TxTable.read(spark, root)))
  }

  test("deleteWhere: a NULL in the predicate column blocks the metadata drop; NULL rows survive; DV'd keys stay dead") {
    import spark.implicits._
    val root = tempDir("txt-delw-null").toString + "/tbl"
    // two n-clustered files; the low file carries a NULL n
    val base = ((0L until 100L).map(k => (k, java.lang.Long.valueOf(k * 2))) :+
        ((50L, null.asInstanceOf[java.lang.Long])))
      .toDF("k", "n").repartitionByRange(2, col("n"))
    TxTable.create(spark, base, root, "k", statsCols = Seq("n"))
    // a DV delete first: k=10 dies merge-on-read
    TxTable.deleteKeysDV(spark, root, Seq(10L).toDF("k"), "k")
    // delete n in [0, 250] — the whole value domain: the null-free
    // file is COVERED (metadata drop), the null-carrying file can
    // NEVER be (null count > 0): residual rewrite, null row kept
    val (cov, part, _) = TxTable.deleteWhereFiles(root, Seq(("n", 0L, 250L)))
    assert(cov.nonEmpty, "the null-free file must metadata-drop")
    assert(part.nonEmpty,
      "a file with NULLs in the predicate column must not metadata-drop")
    TxTable.deleteWhere(spark, root, Seq(("n", 0L, 250L)))
    val got = TxTable.read(spark, root).collect()
      .map(r => r.getLong(0) -> Option(r.get(1))).toMap
    assert(got.keySet === Set(50L) && got(50L).isEmpty,
      "only the NULL-n row survives a whole-domain range delete " +
        "(SQL DELETE semantics)")
    assert(!got.contains(10L), "the DV-deleted key must not resurrect")
  }

  test("deleteWhere: refuses non-stats columns; txn-stamped no-op advances the watermark; cdc feed carries the deletes") {
    import spark.implicits._
    val root = tempDir("txt-delw-cdc").toString + "/tbl"
    TxTable.create(spark,
      (0L until 200L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(4, col("k")), root, "k", cdc = true)
    val e = intercept[IllegalArgumentException] {
      TxTable.deleteWhere(spark, root, Seq(("v", "a", "z")))
    }
    assert(e.getMessage.contains("stats column"))
    val v = TxTable.deleteWhere(spark, root, Seq(("k", 0L, 75L)),
      txn = Some(("purge", 1L)))
    // the feed carries exactly the purged rows — covered AND partial
    val feed = TxTable.changes(spark, root, v - 1, v)
      .filter(col("_change_type") === "delete").collect()
      .map(_.getAs[Long]("k")).toSet
    assert(feed === (0L until 76L).toSet)
    // replay no-ops; a later no-op batch still advances the watermark
    TxTable.deleteWhere(spark, root, Seq(("k", 0L, 75L)),
      txn = Some(("purge", 1L)))
    assert(TxTable.currentVersion(root) === v)
    TxTable.deleteWhere(spark, root, Seq(("k", 0L, 75L)),
      txn = Some(("purge", 2L)))
    assert(TxTable.lastTxn(root, "purge") === Some(2L))
    assert(TxTable.read(spark, root).count() === 124)
  }

  // ---- r18: time-based retention ------------------------------------

  test("vacuumOlderThan: age-boundary files kept and reclaimed exactly") {
    import spark.implicits._
    val (root, _) = mkTable("txt-vact")                       // v1: 4 files
    Thread.sleep(15)
    TxTable.compact(spark, root, "k", 2)                      // v2: drops v1 files
    Thread.sleep(15)
    TxTable.merge(spark, root, Seq((1L, "u1")).toDF("k", "v"), "k") // v3
    val v1Files = TxTable.snapshot(root, Some(1L)).map(_.name).toSet
    val v2Files = TxTable.snapshot(root, Some(2L)).map(_.name).toSet
    val ts2 = TxTable.commitTimestamp(root, 2L).get
    // horizon at v2's instant: v2 and v3 retained, v1's files reclaimable
    assert(TxTable.versionAtOrBefore(root, ts2) === 2L)
    val reclaimed = TxTable.vacuumOlderThan(root,
      olderThanMs = System.currentTimeMillis() - ts2,
      minAgeMillis = 0).toSet
    assert(reclaimed === v1Files,
      s"horizon-at-v2 must reclaim exactly v1's files: got $reclaimed")
    // v2 still time-travels (the version in force AT the horizon)
    assert(TxTable.read(spark, root, Some(2L)).count() === 1000)
    // a cutoff OLDER than every commit reclaims nothing
    assert(TxTable.vacuumOlderThan(root,
      olderThanMs = System.currentTimeMillis(), minAgeMillis = 0).isEmpty)
    assert(v2Files.forall(n =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(root, "data", n))))
  }

  test("cleanupLogOlderThan: prunes records no in-horizon replay reaches; older reads fail loudly") {
    import spark.implicits._
    val (root, _) = mkTable("txt-clnt")                       // v1
    (2 to 12).foreach { i =>
      TxTable.merge(spark, root,
        Seq((i.toLong, s"u$i")).toDF("k", "v"), "k")          // v2..v12
      Thread.sleep(5)
    }
    val ts11 = TxTable.commitTimestamp(root, 11L).get
    val removed = TxTable.cleanupLogOlderThan(root,
      System.currentTimeMillis() - ts11)
    assert(removed.nonEmpty, "a checkpoint below the horizon must free records")
    // the horizon version and the head still replay
    assert(TxTable.read(spark, root, Some(11L)).count() === 1000)
    assert(TxTable.read(spark, root).count() === 1000)
    // a replay BELOW the cleaned prefix refuses loudly
    val e = intercept[IllegalArgumentException] {
      TxTable.read(spark, root, Some(2L)).count()
    }
    assert(e.getMessage.contains("retention"))
  }

  // ---- r18: column mapping (rename/drop as metadata) ----------------

  private def dataMtimes(root: String): Map[String, java.nio.file.attribute.FileTime] = {
    import scala.jdk.CollectionConverters._
    val l = java.nio.file.Files.list(java.nio.file.Paths.get(root, "data"))
    try l.iterator().asScala.map(p => p.getFileName.toString ->
      java.nio.file.Files.getLastModifiedTime(p)).toMap
    finally l.close()
  }

  test("rename is metadata-only; both eras resolve; merges speak the new name; checkpoints carry the map") {
    import spark.implicits._
    val root = tempDir("txt-cm-rename").toString + "/tbl"
    val base = (0L until 100L).map(k => (k, k * 10.0, s"n$k"))
      .toDF("k", "price", "note").repartitionByRange(4, col("k"))
    TxTable.create(spark, base, root, "k")                           // v1
    val before = dataMtimes(root)
    TxTable.renameColumn(root, "price", "amount")                    // v2
    assert(dataMtimes(root) == before, "rename must touch zero data files")
    val got = TxTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "amount", "note"))
    assert(got.filter(col("k") === 7L).head.getDouble(1) === 70.0)
    // merge UNDER THE NEW NAME — writes land under the old physical
    TxTable.merge(spark, root,
      Seq((7L, 777.0, "seven")).toDF("k", "amount", "note"), "k")    // v3
    assert(TxTable.read(spark, root).filter(col("k") === 7L)
      .head.getDouble(1) === 777.0)
    // time travel BEFORE the rename resolves the old era's name
    val era1 = TxTable.read(spark, root, Some(1L))
    assert(era1.columns.toSeq === Seq("k", "price", "note"))
    assert(era1.filter(col("k") === 7L).head.getDouble(1) === 70.0)
    // refusals: key, missing source, occupied target
    assert(intercept[IllegalArgumentException] {
      TxTable.renameColumn(root, "k", "kk") }.getMessage.contains("key"))
    assert(intercept[IllegalArgumentException] {
      TxTable.renameColumn(root, "ghost", "g") }
      .getMessage.contains("no column"))
    assert(intercept[IllegalArgumentException] {
      TxTable.renameColumn(root, "note", "amount") }
      .getMessage.contains("already exists"))
    // cross a checkpoint (interval 10): the map must survive replay
    // from the checkpoint alone
    (0 until 10).foreach { i =>
      TxTable.merge(spark, root,
        Seq((i.toLong, 1.0 * i, s"m$i")).toDF("k", "amount", "note"), "k")
    }
    val after = TxTable.read(spark, root)
    assert(after.columns.toSeq === Seq("k", "amount", "note"))
    assert(after.filter(col("k") === 3L).head.getDouble(1) === 3.0)
    // a rename back to the original name round-trips to identity
    TxTable.renameColumn(root, "amount", "price")
    assert(TxTable.read(spark, root).columns.toSeq ===
      Seq("k", "price", "note"))
  }

  test("drop is metadata-only; the dropped name is never reusable; old eras still see it") {
    import spark.implicits._
    val root = tempDir("txt-cm-drop").toString + "/tbl"
    TxTable.create(spark,
      (0L until 50L).map(k => (k, k * 2, s"s$k")).toDF("k", "n", "s"),
      root, "k")                                                     // v1
    val before = dataMtimes(root)
    TxTable.dropColumn(root, "s")                                    // v2
    assert(dataMtimes(root) == before, "drop must touch zero data files")
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "n"))
    // time travel BEFORE the drop still reads the column's bytes
    assert(TxTable.read(spark, root, Some(1L))
      .filter(col("k") === 9L).head.getString(2) === "s9")
    // re-adding the dropped name via merge evolution is REFUSED —
    // by-name reads of pre-drop files would resurrect stale values
    val e = intercept[IllegalArgumentException] {
      TxTable.merge(spark, root,
        Seq((1L, 2L, "smuggled")).toDF("k", "n", "s"), "k")
    }
    assert(e.getMessage.contains("physical storage"))
    // a DIFFERENT fresh name evolves fine
    TxTable.merge(spark, root,
      Seq((1L, 2L, "ok")).toDF("k", "n", "s2"), "k")
    assert(TxTable.read(spark, root).columns.toSeq === Seq("k", "n", "s2"))
    // restore across the mapping change is refused loudly
    val e2 = intercept[IllegalArgumentException] {
      TxTable.renameColumn(root, "n", "m")
      TxTable.restore(root, "k", 1L)
    }
    assert(e2.getMessage.contains("column"))
  }

  test("restore past a dropColumn brings the column back with its values") {
    import spark.implicits._
    val root = tempDir("txt-cm-restore").toString + "/tbl"
    val base = (0L until 50L).map(k => (k, k * 2, s"s$k")).toDF("k", "n", "s")
    TxTable.create(spark, base, root, "k")                           // v1
    TxTable.dropColumn(root, "s")                                    // v2
    assert(TxTable.restore(root, "k", 1L) === 3L)
    val got = TxTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "n", "s"))
    assert(got.collect().toSet === base.collect().toSet)
  }

  test("renameColumn and dropColumn re-derive under a racing commit") {
    import spark.implicits._
    val root = tempDir("txt-cm-race").toString + "/tbl"
    TxTable.create(spark,
      (0L until 20L).map(k => (k, k, s"s$k")).toDF("k", "n", "s"), root, "k")
    // a racer that takes version `v` between derivation and commit
    def racer(v: Long): Runnable = new Runnable {
      def run(): Unit = java.nio.file.Files.write(
        java.nio.file.Paths.get(root, "_graft_log", f"v$v%010d.json"),
        s"""{"version":$v,"key":"k","adds":[],"removes":[],"op":"MERGE","ts":0}"""
          .getBytes("UTF-8"), java.nio.file.StandardOpenOption.CREATE_NEW)
    }
    try {
      val a0 = TxTable.attemptInvocations.get()
      TxTable.testRaceInjector.set(racer(2L))
      assert(TxTable.renameColumn(root, "n", "m") === 3L)
      assert(TxTable.attemptInvocations.get() - a0 === 2L)
      val a1 = TxTable.attemptInvocations.get()
      TxTable.testRaceInjector.set(racer(4L))
      assert(TxTable.dropColumn(root, "s") === 5L)
      assert(TxTable.attemptInvocations.get() - a1 === 2L)
    } finally TxTable.testRaceInjector.set(null)
    val got = TxTable.read(spark, root)
    assert(got.columns.toSeq === Seq("k", "m"))
    assert(got.filter(col("k") === 7L).head.getLong(1) === 7L)
  }

  test("logged stats survive a rename: pruning and deleteWhere answer under the new name") {
    import spark.implicits._
    val root = tempDir("txt-cm-stats").toString + "/tbl"
    val base = (0L until 400L).map(k => (k, k * 3, s"v$k"))
      .toDF("k", "price", "v").repartitionByRange(4, col("price"))
    TxTable.create(spark, base, root, "k", statsCols = Seq("price"))
    TxTable.renameColumn(root, "price", "amount")
    // reader-side skipping under the NEW name hits the OLD files'
    // physically-keyed stats
    val (kept, pruned) = TxTable.liveFilesWhere(root, "amount", 0L, 200L)
    assert(pruned.nonEmpty, "rename must not orphan the logged stats")
    assert(TxTable.readWhere(spark, root, "amount", 0L, 200L).count() === 67)
    // and the metadata-only delete path still classifies: [0, 600]
    // covers the low amount-clustered files whole, straddles one
    val (cov, _, untouched) =
      TxTable.deleteWhereFiles(root, Seq(("amount", 0L, 600L)))
    assert(cov.nonEmpty && untouched.nonEmpty)
    TxTable.deleteWhere(spark, root, Seq(("amount", 0L, 600L)))
    // amount = 3k <= 600 → k <= 200 → 201 rows deleted
    assert(TxTable.read(spark, root).count() === 400 - 201)
  }

  test("the change feed spans a rename: old-era change files serve under the new logical names") {
    import spark.implicits._
    val root = tempDir("txt-cm-cdc").toString + "/tbl"
    TxTable.create(spark,
      (0L until 20L).map(k => (k, k * 1L)).toDF("k", "n"), root, "k",
      cdc = true)                                                    // v1
    TxTable.merge(spark, root, Seq((3L, 333L)).toDF("k", "n"), "k")  // v2
    TxTable.renameColumn(root, "n", "m")                             // v3
    TxTable.merge(spark, root, Seq((4L, 444L)).toDF("k", "m"), "k")  // v4
    val feed = TxTable.changes(spark, root, 1L, 4L)
    assert(feed.columns.contains("m") && !feed.columns.contains("n"))
    val got = feed.filter(col("_change_type") === "update_postimage")
      .collect().map(r => (r.getAs[Long]("k"), r.getAs[Long]("m"),
        r.getAs[Long]("_commit_version"))).toSet
    assert(got === Set((3L, 333L, 2L), (4L, 444L, 4L)),
      s"both eras' change files must serve under the new name: $got")
  }
}
