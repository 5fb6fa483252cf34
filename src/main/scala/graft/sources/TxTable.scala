package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructField, StructType}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Minimal log-structured transactional table — the Delta-protocol
  * pattern from the public literature (Armbrust et al., "Delta Lake:
  * High-Performance ACID Table Storage over Cloud Object Stores",
  * VLDB 2020): immutable parquet data files plus an ordered log of
  * versioned commit records; a snapshot is the replay of adds minus
  * removes up to a version. This is the storage half the DataFrame-level
  * merges (q24 upsert, q44/st11 CDC) compose onto — the state tables a
  * 100 TB pipeline keeps (signature tables, cluster assignments, sketch
  * rollups) need exactly this: atomic multi-file commits, readers never
  * seeing half a write, MERGE that rewrites only the files it must, and
  * compaction as just another commit.
  *
  * Commit protocol: data files are written (and fsync'd by the
  * filesystem) BEFORE the log record; the log record is published with
  * an atomic create-if-absent, so two concurrent committers race on the
  * version number and exactly one wins (the loser re-reads the snapshot
  * and retries — optimistic concurrency, the paper's §3.2). On a POSIX
  * filesystem a hard link from a fully written temp file provides the
  * put-if-absent primitive (see [[publish]]); an object store deployment
  * substitutes its conditional-put (the paper's LogStore discussion).
  * Readers list the log directory and replay — no lock, no
  * coordination, and never a partially written record.
  *
  * Log protocol (Delta's reader/writer version): the v1 record that
  * [[create]] and [[cloneShallow]] write, and every checkpoint, carry
  * `protocol` = [[Protocol]]. Replay checks it once, on its base (the
  * checkpoint it starts from, else v1), before it uses any other field,
  * and refuses a log without it loudly, naming the root. In a
  * protocol-1 log every table has a declared schema and every record
  * carries its operation kind and commit time, so no read path carries
  * a schema-less or unstamped fallback.
  *
  * Log checkpointing (the paper's §3.3, added r14): every
  * [[CheckpointInterval]] commits the committer also writes a snapshot
  * checkpoint (the full live file set + table schema as of that
  * version) and an atomically-replaced `_last_checkpoint` pointer.
  * Replay then reads ONE checkpoint plus at most an interval's worth of
  * commit-record suffix, so commit cost is FLAT in table history —
  * without it, a long-lived CDC stream committing per micro-batch
  * (st32's posture) makes every commit O(total commits) on the driver,
  * O(n²) cumulative over the stream's life. Checkpoints are derived
  * data: losing one costs nothing (replay falls back to older
  * checkpoints or the full log), and writing one can never fail a
  * commit (best-effort, after the commit record exists).
  *
  * Schema evolution (r14): the table schema travels IN the log (each
  * commit may carry a new schema; the latest at-or-below a version is
  * that version's schema — the paper's metaData action). A MERGE whose
  * updates carry ADDED columns commits the widened schema; untouched
  * old files are simply read through the declared schema, their missing
  * columns null (parquet read-by-name). A MERGE whose updates are
  * MISSING table columns fails loudly — silent column drops corrupt a
  * state table invisibly.
  *
  * File-level pruning: every committed data file carries min/max stats
  * of the declared key column in its log record, so MERGE touches only
  * files whose key range intersects the updates (everything else
  * carries over by not being removed) and point reads can skip files —
  * the property raw parquet directories lack and the reason state
  * tables at scale need a log-structured format.
  *
  * JSON is written/parsed with json4s (ships with Spark). Log records
  * are tiny (file names + stats); checkpoints are live-set metadata,
  * never data. */
object TxTable {

  import org.json4s._
  import org.json4s.jackson.{JsonMethods, Serialization}
  private implicit val fmts: Formats = DefaultFormats

  /** min/max statistics of ONE declared secondary column in one file
    * (r16 — the Delta-style per-column stats that feed reader-side data
    * skipping): `nlo`/`nhi` carry the numeric range for integral
    * columns, `lo`/`hi` the lexicographic range for string-comparable
    * ones (strings verbatim; dates and timestamps as fixed-width ISO
    * renderings, which order identically to their values). A column
    * whose type fits neither gets no entry — absence means "cannot
    * prune on this column for this file", the degrade-never-miss
    * posture the key stats already have. `nn` (r18) is the file's
    * NULL count for the column — what [[deleteWhere]]'s metadata-only
    * fast path needs (Delta logs nullCount for the same reason): a
    * range can only prove "every row matches the predicate" for rows
    * the min/max SAW; a NULL row matches no range predicate and must
    * survive the delete, so a file is droppable-without-reading only
    * when its logged null count is exactly zero. Absent → never
    * metadata-dropped, always safe. */
  case class ColStat(lo: Option[String] = None, hi: Option[String] = None,
                     nlo: Option[Long] = None, nhi: Option[Long] = None,
                     nn: Option[Long] = None)

  /** Per-file log entry: exact row count plus key-range statistics.
    * kmin/kmax are the BIGINT-cast range (full-range sentinels when the
    * key doesn't cast); smin/smax (r15) are the LEXICOGRAPHIC range for
    * string-typed keys — the stats that let a URL-, digest- or
    * shingle-keyed state table (what real 100 TB pipelines key on)
    * prune merges instead of degrading to full-table rewrites. `cols`
    * (r16) carries the same ranges for the table's DECLARED secondary
    * statistics columns, consumed by [[readWhere]] — the reader-side
    * data skipping that lets a time-ranged read on a URL-keyed state
    * table prune files on a non-key column. `dv` (r17) names this
    * file's DELETION-VECTOR sidecar when one exists (Delta's
    * merge-on-read deletes, the key-list form): a tiny parquet file of
    * the keys deleted from THIS data file, applied by readers as an
    * anti-join — see [[deleteKeysDV]]. A DV'd entry's `rows` is the
    * exact LIVE count (physical minus deleted), so the metadata-only
    * [[stats]] path stays exact; its key min/max stay the PHYSICAL
    * file's (deleting rows can only shrink a range, so pruning on the
    * stale range is conservative — reads a file it could skip, never
    * skips one it must read). `knn` (r18) is the file's null count for
    * the KEY column — [[deleteWhere]]'s metadata-only drop eligibility
    * on key predicates, mirroring [[ColStat.nn]]. An absent Option
    * field means the stat is unknown for that file (an all-null key
    * has no string range), and every reader then keeps the
    * degrade-never-miss posture. */
  case class FileEntry(name: String, rows: Long, kmin: Long, kmax: Long,
                       smin: Option[String] = None, smax: Option[String] = None,
                       cols: Option[Map[String, ColStat]] = None,
                       dv: Option[String] = None,
                       knn: Option[Long] = None)
  /** Application-transaction marker (the Delta `txn` action, §4.2 of the
    * VLDB'20 paper): a commit stamped (appId, version) records that the
    * writer `appId` has durably applied ITS OWN version counter up to
    * `version`. A structured-streaming sink passes its micro-batch id
    * here; after a failure the engine re-delivers the same batch
    * (foreachBatch is at-least-once), the re-apply sees its version
    * already recorded, and the merge no-ops — at-least-once delivery ×
    * idempotent commit = exactly-once table state. */
  case class TxnAction(appId: String, version: Long)
  /** One log record. `op` names the operation kind for the
    * history/audit surface; `dataChange = Some(false)` marks commits
    * that REARRANGE bytes without changing table rows (compact/cluster
    * — Delta's dataChange flag), which the change feed then skips
    * without reading a file; `ts` is the committer's wall-clock millis
    * — what [[vacuumOlderThan]]/[[cleanupLogOlderThan]] prune against,
    * since compliance contracts speak hours ("keep 7 days of time
    * travel"), not version counts. `schema` is set only by commits
    * that change it (always by v1); `protocol` only by v1. */
  case class Commit(version: Long, key: String,
                    adds: Seq[FileEntry], removes: Seq[String],
                    op: String, ts: Long,
                    schema: Option[String] = None,
                    txn: Option[TxnAction] = None,
                    dataChange: Option[Boolean] = None,
                    statsCols: Option[Seq[String]] = None,
                    invariants: Option[Map[String, String]] = None,
                    cdc: Option[Seq[String]] = None,
                    cdcOn: Option[Boolean] = None,
                    colMap: Option[Map[String, String]] = None,
                    retired: Option[Seq[String]] = None,
                    protocol: Option[Int] = None)
  /** A materialized snapshot of the replay state at `version` — live
    * file entries in replay order, the schema then in force, and the
    * per-app last-transaction watermarks (txns must survive the
    * checkpoint: replay starts THERE, so an idempotence watermark only
    * in pre-checkpoint commit records would silently vanish and a
    * replayed batch would double-apply). */
  private case class Checkpoint(version: Long, key: String,
                                schema: String, live: Seq[FileEntry],
                                txns: Option[Map[String, Long]] = None,
                                statsCols: Option[Seq[String]] = None,
                                invariants: Option[Map[String, String]] = None,
                                cdcOn: Option[Boolean] = None,
                                colMap: Option[Map[String, String]] = None,
                                retired: Option[Seq[String]] = None,
                                protocol: Option[Int] = None)
  /** Replay result: the version replayed to, live files in insertion
    * order, schema in force, per-appId max recorded transaction
    * version, the table's key column, and its declared secondary
    * statistics columns. */
  private case class State(version: Long, live: Seq[FileEntry], schema: StructType,
                           txns: Map[String, Long], key: String,
                           statsCols: Seq[String],
                           invariants: Map[String, String],
                           cdcOn: Boolean,
                           colMap: Map[String, String],
                           retired: Seq[String]) {
    /** COLUMN MAPPING (r18 — Delta's column mapping in name mode):
      * `colMap` maps LOGICAL column names (what the declared schema,
      * every API frame and every query speak) to PHYSICAL names (what
      * the parquet bytes store — assigned at column birth, NEVER
      * changed). An absent entry means logical == physical, so a table
      * that never renamed anything has an empty map and every code
      * path is bit-identical to pre-r18. `retired` holds the physical
      * names of DROPPED columns: the physical namespace is never
      * reused (a merge re-adding a dropped name is REFUSED — by-name
      * reads of old files would otherwise resurrect the dropped
      * column's stale values, the r14 silent-corruption class). */
    def physOf(logical: String): String = colMap.getOrElse(logical, logical)
    /** The name prefix of the files the commit after this state writes
      * for `op`. */
    def filePrefix(op: String): String = f"${version + 1}%010d-$op"
  }

  /** The log protocol this build writes and reads: a v1 record or
    * checkpoint declaring anything else (or nothing) is refused. */
  private val Protocol = 1
  /** Commits between checkpoints; replay reads ≤ this many records. */
  private val CheckpointInterval = 10
  /** vacuum's default age guard: an unreferenced data file younger than
    * this is presumed to belong to an in-flight committer (files land in
    * data/ BEFORE their commit record — the crash-safety ordering) and
    * is never deleted. Mirrors Delta's retention-horizon check. */
  val DefaultVacuumRetentionMillis: Long = 10L * 60 * 1000

  private def logDir(root: String): Path = Paths.get(root, "_graft_log")
  private def dataDir(root: String): Path = Paths.get(root, "data")
  private def logName(v: Long): String = f"v$v%010d.json"
  private def ckptName(v: Long): String = f"ckpt-v$v%010d.json"

  private def listDir(d: Path): Seq[Path] = {
    if (!Files.isDirectory(d)) return Seq.empty
    import scala.jdk.CollectionConverters._
    val listing = Files.list(d)
    try listing.iterator().asScala.toSeq finally listing.close()
  }

  private def readJson[T: Manifest](p: Path): T = Serialization.read[T](
    new String(Files.readAllBytes(p), java.nio.charset.StandardCharsets.UTF_8))

  /** Committed versions, from FILENAMES only — no record reads. */
  private def logVersions(root: String): Seq[Long] =
    listDir(logDir(root)).map(_.getFileName.toString)
      .filter(_.matches("v\\d{10}\\.json"))
      .map(_.stripPrefix("v").stripSuffix(".json").toLong).sorted

  /** Newest checkpoint at or below `bound`: the `_last_checkpoint`
    * pointer when it qualifies (the O(1) hot path), else a directory
    * scan (time travel below the latest checkpoint). */
  private def checkpointAtOrBelow(root: String, bound: Long): Option[Checkpoint] = {
    val d = logDir(root)
    val fromPointer =
      try {
        val p = d.resolve("_last_checkpoint")
        if (Files.exists(p)) {
          val v = new String(Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).trim.toLong
          if (v <= bound) Some(readJson[Checkpoint](d.resolve(ckptName(v))))
          else None
        } else None
      } catch { case scala.util.control.NonFatal(_) => None }
    fromPointer.orElse {
      listDir(d).map(_.getFileName.toString)
        .filter(_.matches("ckpt-v\\d{10}\\.json"))
        .map(_.stripPrefix("ckpt-v").stripSuffix(".json").toLong)
        .filter(_ <= bound).sorted.lastOption
        .flatMap { v =>
          try Some(readJson[Checkpoint](d.resolve(ckptName(v))))
          catch { case scala.util.control.NonFatal(_) => None }
        }
    }
  }

  /** Replay to `asOf` (inclusive; None = latest): live file entries in
    * insertion order, the schema in force, and the per-app transaction
    * watermarks. Reads one checkpoint plus only the commit-record
    * suffix past it. */
  private def replayState(root: String, asOf: Option[Long]): State = {
    val bound = asOf.getOrElse(Long.MaxValue)
    val ck = checkpointAtOrBelow(root, bound)
    val versions = logVersions(root)
    // truncated-history guard (r17, cleanupLog's contract): without a
    // checkpoint at-or-below the bound, a sound replay needs the log
    // to start at v1 — if cleanupLog removed that prefix, replaying
    // would silently return a PARTIAL state; refuse loudly instead
    // (the same posture as a time-travel read past vacuumed files)
    if (ck.isEmpty) {
      val minLog = versions.headOption
      require(minLog.forall(_ == 1L),
        s"TxTable at $root: cannot replay to v$bound — the log below " +
          s"v${minLog.getOrElse(0L)} was cleaned past the retention horizon")
    }
    val from = ck.map(_.version).getOrElse(0L)
    val replayed = versions.filter(v => v > from && v <= bound)
    val records = replayed.map(v =>
      JsonMethods.parse(new String(Files.readAllBytes(
        logDir(root).resolve(logName(v))), StandardCharsets.UTF_8)))
    // the protocol gate, on the replay base and before any other field
    // is read (an empty log has no base and replays to nothing)
    if (ck.isDefined || records.nonEmpty) {
      val found = ck.map(_.protocol)
        .getOrElse((records.head \ "protocol").extractOpt[Int])
      require(found.contains(Protocol),
        s"TxTable at $root: the log's replay base " +
          s"(${ck.fold(logName(1L))(c => ckptName(c.version))}) declares " +
          s"protocol ${found.getOrElse("none")} — this build reads only " +
          s"protocol $Protocol logs; recreate the table with create")
    }
    val live = scala.collection.mutable.LinkedHashMap.empty[String, FileEntry]
    val txns = scala.collection.mutable.HashMap.empty[String, Long]
    var schema: Option[String] = None
    var key: String = ""
    var statsCols: Seq[String] = Seq.empty
    var invariants: Map[String, String] = Map.empty
    var cdcOn: Boolean = false
    var colMap: Map[String, String] = Map.empty
    var retired: Seq[String] = Seq.empty
    ck.foreach { c =>
      c.live.foreach(a => live.update(a.name, a))
      schema = Some(c.schema)
      key = c.key
      c.statsCols.foreach(statsCols = _)
      c.invariants.foreach(invariants = _)
      c.cdcOn.foreach(cdcOn = _)
      c.colMap.foreach(colMap = _)
      c.retired.foreach(retired = _)
      c.txns.foreach(_.foreach { case (app, v) => txns.update(app, v) })
    }
    records.foreach { j =>
      val c = j.extract[Commit]
      c.removes.foreach(live.remove)
      c.adds.foreach(a => live.update(a.name, a))
      if (c.schema.isDefined) schema = c.schema
      key = c.key
      c.statsCols.foreach(statsCols = _)
      c.invariants.foreach(invariants = _)
      c.cdcOn.foreach(cdcOn = _)
      c.colMap.foreach(colMap = _)
      c.retired.foreach(retired = _)
      c.txn.foreach(t => txns.update(t.appId,
        math.max(t.version, txns.getOrElse(t.appId, Long.MinValue))))
    }
    State(replayed.lastOption.getOrElse(from), live.values.toSeq,
      schema.fold(new StructType())(DataType.fromJson(_).asInstanceOf[StructType]),
      txns.toMap, key, statsCols, invariants, cdcOn, colMap, retired)
  }

  /** Live file entries as of `asOf` (inclusive; None = latest). */
  def snapshot(root: String, asOf: Option[Long] = None): Seq[FileEntry] =
    replayState(root, asOf).live

  /** The last transaction version recorded for `appId` (None = never).
    * The read half of the idempotent-writer protocol: a sink that
    * stamps its merges with (appId, batchVersion) can also recover its
    * own progress from the table alone after losing its checkpoint. */
  def lastTxn(root: String, appId: String): Option[Long] =
    replayState(root, None).txns.get(appId)

  def currentVersion(root: String): Long =
    logVersions(root).lastOption.getOrElse(0L)

  /** Publish `bytes` under `dest` only if nothing is there yet, all or
    * nothing: the bytes go to a temp file in the same directory (its
    * `.tmp-*.part` name matches no record or checkpoint pattern, so no
    * listing ever sees it), are forced to disk, and appear under `dest`
    * through one link(2) — atomic, and it never replaces an existing
    * name, so exactly one of N racing publishers wins and no reader
    * ever parses a partial record. A writer that crashes before the
    * link leaves only the temp file: the version stays free for the
    * next committer. The directory is synced after the link so the new
    * name is durable. False when `dest` already existed, or when
    * [[cleanupLog]] reclaimed the temp file before the link (it does so
    * only once a version at or above this one exists). */
  private def publish(dest: Path, bytes: Array[Byte]): Boolean = {
    import java.nio.channels.FileChannel
    import java.nio.file.StandardOpenOption.{READ, WRITE}
    val dir = dest.getParent
    val tmp = Files.createTempFile(dir, ".tmp-", ".part")
    try {
      val ch = FileChannel.open(tmp, WRITE)
      try {
        val buf = java.nio.ByteBuffer.wrap(bytes)
        while (buf.hasRemaining) ch.write(buf)
        ch.force(true)
      } finally ch.close()
      try Files.createLink(dest, tmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException |
             _: java.nio.file.NoSuchFileException => return false
      }
      val d = FileChannel.open(dir, READ)
      try d.force(true) finally d.close()
      true
    } finally Files.deleteIfExists(tmp)
  }

  /** `Some(c)` unless `c` is empty: the log leaves an empty metadata
    * field out of its records and checkpoints. */
  private def nonEmpty[C <: Iterable[_]](c: C): Option[C] =
    if (c.isEmpty) None else Some(c)

  /** Best-effort checkpoint at `v` (called after the commit record for
    * `v` exists). [[publish]] makes concurrent checkpointers of the same
    * version harmless; the pointer flips via atomic rename; any failure
    * is swallowed — a checkpoint is an accelerator, never correctness. */
  private def maybeCheckpoint(root: String, v: Long): Unit = {
    if (v % CheckpointInterval != 0) return
    try {
      val st = replayState(root, Some(v))
      val rec = Serialization.write(Checkpoint(v, st.key, st.schema.json, st.live,
        nonEmpty(st.txns), nonEmpty(st.statsCols), nonEmpty(st.invariants),
        Option.when(st.cdcOn)(true), nonEmpty(st.colMap), nonEmpty(st.retired),
        Some(Protocol)))
      val d = logDir(root)
      val ckpt = d.resolve(ckptName(v))
      // the pointer moves only to a checkpoint that exists: publish is
      // also false when cleanupLog reclaimed a late temp file
      if (publish(ckpt, rec.getBytes(StandardCharsets.UTF_8)) || Files.exists(ckpt)) {
        val tmp = Files.createTempFile(d, "_last_checkpoint", ".tmp")
        Files.write(tmp, v.toString.getBytes(StandardCharsets.UTF_8))
        Files.move(tmp, d.resolve("_last_checkpoint"),
          StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
      }
    } catch { case scala.util.control.NonFatal(_) => () }
  }

  /** The statistics-column projections by type: integral columns get a
    * numeric (long) range, string columns their own lexicographic
    * range, dates/timestamps a FIXED-WIDTH ISO rendering whose
    * lexicographic order equals the value order (a bare timestamp→
    * string cast has variable fractional-second width and would NOT
    * sort correctly — the fixed pattern is the contract). Unsupported
    * types return None: that column simply records no stats for the
    * file, and pruning degrades to always-read (never skips). */
  private def statProjections(dt: DataType, c: String)
      : Option[(org.apache.spark.sql.Column, Boolean)] = {
    import org.apache.spark.sql.types._
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some((col(c).cast("long"), true))
      case StringType => Some((col(c), false))
      case DateType => Some((col(c).cast("string"), false))
      case TimestampType | TimestampNTZType =>
        Some((date_format(col(c), "yyyy-MM-dd HH:mm:ss.SSSSSS"), false))
      case _ => None
    }
  }

  /** Per-file stats straight from the parquet FOOTERS of just-written
    * files (r18 optimization round, guide §1.2: remove whole passes):
    * parquet-mr records min/max/null-count per column chunk at write
    * time, so the old stats pass — one full Spark job per commit that
    * re-read every new file (multi-file scan + groupBy(input_file_name)
    * + collect) — duplicated work the writer already did. Footer reads
    * are driver-side metadata I/O, ∝ files in THIS commit (never the
    * table): ~1 ms per file locally, one small ranged GET per file on
    * an object store — the same footer read Delta/Iceberg writers do to
    * stamp their logs. Returns None whenever exact parity with the
    * Spark pass can't be PROVEN from the footer alone — unsupported
    * column type (timestamps: their logged rendering is
    * session-timezone-dependent), missing/truncated statistics
    * (parquet-mr drops binary min/max above 4 KiB), unset null counts,
    * physical/declared type mismatch — and the caller then runs the
    * old Spark pass, so the logged stats are identical either way;
    * this path is just cheaper. Parity, case by case:
    *  - integral columns: footer min/max/null-count are exact — the
    *    same values `min/max(try_cast(c AS BIGINT))`+`sum(isNull)`
    *    computed;
    *  - string columns: footer min/max use unsigned-lexicographic
    *    byte order, the SAME order Spark's min/max over UTF8String
    *    uses, and are exact below parquet's stats size cutoff
    *    (dropped stats → None → fallback, never a wrong bound);
    *  - dates render as LocalDate.ofEpochDay(days).toString — the ISO
    *    form `cast(date AS string)` produced;
    *  - a STRING-typed key logs the full-range kmin/kmax sentinels on
    *    THIS path unconditionally. The Spark fallback's
    *    `try_cast(string AS BIGINT)` can compute real bounds for an
    *    all-digit key, so for such keys the two paths may log DIFFERENT
    *    (both valid) entries — the footer path's wider sentinels only
    *    make pruning MORE conservative, never wrong
    *    (degrade-never-miss). Every string-keyed table here (URL-,
    *    digest-, date-string-keyed state) casts to null → identical
    *    sentinels either way. */
  private[graft] def footerEntries(conf: org.apache.hadoop.conf.Configuration,
                            moved: Seq[Path], schema: StructType, key: String,
                            secondary: Seq[(String, DataType)])
      : Option[Seq[FileEntry]] = {
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    def isIntegral(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType => true
      case _ => false
    }
    val keyDt = schema(key).dataType
    if (!isIntegral(keyDt) && keyDt != StringType) return None
    if (!secondary.forall { case (_, dt) =>
        isIntegral(dt) || dt == StringType || dt == DateType }) return None
    // merged (min, max, nulls) of one top-level column across a file's
    // row groups, in the chunk statistics' own typed domain (merged via
    // the column's own comparator — unsigned for strings); None = stats
    // unusable for an exactness proof
    def agg(blocks: Seq[org.apache.parquet.hadoop.metadata.BlockMetaData],
            name: String): Option[(Option[AnyRef], Option[AnyRef], Long)] = {
      var nulls = 0L
      var mn: AnyRef = null
      var mx: AnyRef = null
      val it = blocks.iterator
      while (it.hasNext) {
        val b = it.next()
        b.getColumns.asScala.find(_.getPath.toDotString == name) match {
          case None => return None
          case Some(cc) =>
            val st = cc.getStatistics
            if (st == null || !st.isNumNullsSet) return None
            nulls += st.getNumNulls
            if (st.hasNonNullValue) {
              val c = st.comparator().asInstanceOf[java.util.Comparator[AnyRef]]
              val lo = st.genericGetMin.asInstanceOf[AnyRef]
              val hi = st.genericGetMax.asInstanceOf[AnyRef]
              if (mn == null || c.compare(lo, mn) < 0) mn = lo
              if (mx == null || c.compare(hi, mx) > 0) mx = hi
            } else if (st.getNumNulls < cc.getValueCount) {
              // non-null values exist but min/max were dropped (e.g.
              // oversized binaries): the range can't be proven
              return None
            }
        }
      }
      Some((Option(mn), Option(mx), nulls))
    }
    def asLong(v: AnyRef): Option[Long] = v match {
      case n: java.lang.Integer => Some(n.longValue())
      case n: java.lang.Long => Some(n.longValue())
      case _ => None
    }
    def asStr(v: AnyRef, dt: DataType): Option[String] = (v, dt) match {
      case (b: org.apache.parquet.io.api.Binary, StringType) =>
        Some(b.toStringUsingUTF8)
      case (n: java.lang.Integer, DateType) =>
        // ISO string order equals chronological order only for years
        // 1..9999 (fixed 4-digit rendering, no sign): outside that range
        // ("-0500-…", "+10000-…") the lexicographic order of the rendered
        // strings inverts, so the chronological footer min/max would not
        // bound the file's RENDERED values and pruning could misclassify
        // a file. Fall back to the Spark pass (which computes min/max
        // over the rendering itself) for such dates.
        val d = java.time.LocalDate.ofEpochDay(n.longValue())
        if (d.getYear >= 1 && d.getYear <= 9999) Some(d.toString) else None
      case _ => None
    }
    try {
      // the reader options over the caller's conf: a bare open(in)
      // builds a fresh Hadoop Configuration per file, re-parsing the
      // default resources and searching the classpath for site files
      val opts = org.apache.parquet.HadoopReadOptions.builder(conf).build()
      val out = Seq.newBuilder[FileEntry]
      moved.foreach { p =>
        val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p.toString), conf)
        val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(in, opts)
        val footer = try rdr.getFooter finally rdr.close()
        val blocks = footer.getBlocks.asScala.toSeq
        val rows = blocks.map(_.getRowCount).sum
        if (rows > 0) {
          val (kmin, kmax, smin, smax, knn) = agg(blocks, key) match {
            case None => return None
            case Some((mn, mx, nulls)) =>
              if (isIntegral(keyDt)) {
                if (mn.isDefined && asLong(mn.get).isEmpty) return None
                (mn.flatMap(asLong).getOrElse(Long.MinValue),
                  mx.flatMap(asLong).getOrElse(Long.MaxValue),
                  None, None, Some(nulls))
              } else {
                if (mn.isDefined && asStr(mn.get, StringType).isEmpty)
                  return None
                (Long.MinValue, Long.MaxValue,
                  mn.flatMap(asStr(_, StringType)),
                  mx.flatMap(asStr(_, StringType)), Some(nulls))
              }
          }
          val colStats = secondary.flatMap { case (c, dt) =>
            agg(blocks, c) match {
              case None => return None
              case Some((mn, mx, nulls)) =>
                if (mn.isEmpty || mx.isEmpty) None // all-null: no entry
                else if (isIntegral(dt)) {
                  val lo = asLong(mn.get); val hi = asLong(mx.get)
                  if (lo.isEmpty || hi.isEmpty) return None
                  Some(c -> ColStat(nlo = lo, nhi = hi, nn = Some(nulls)))
                } else {
                  val lo = asStr(mn.get, dt); val hi = asStr(mx.get, dt)
                  if (lo.isEmpty || hi.isEmpty) return None
                  Some(c -> ColStat(lo = lo, hi = hi, nn = Some(nulls)))
                }
            }
          }.toMap
          out += FileEntry(p.getFileName.toString, rows, kmin, kmax,
            smin, smax, if (colStats.isEmpty) None else Some(colStats),
            dv = None, knn = knn)
        }
      }
      Some(out.result())
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** `df` with every column under its PHYSICAL name (column mapping,
    * r18): data and change files store the names every era's files
    * agree on, so a rename stays metadata-only. An empty map is the
    * identity. */
  private def toPhysical(df: DataFrame, colMap: Map[String, String]): DataFrame =
    if (colMap.isEmpty) df
    else df.select(df.columns.toSeq.map(c => col(c).as(colMap.getOrElse(c, c))): _*)

  /** Scan `paths` through `declared` by PHYSICAL name and alias every
    * column back to its logical name — the read half of
    * [[toPhysical]]: a renamed column reads every era's files by its one
    * physical name. `extra` fields (a change file's `_change_type`) are
    * never mapped. An empty map scans exactly the declared schema. */
  private def scanLogical(spark: SparkSession, paths: Seq[String],
                          declared: StructType, colMap: Map[String, String],
                          extra: Seq[StructField] = Seq.empty): DataFrame = {
    def phys(c: String): String = colMap.getOrElse(c, c)
    val raw = spark.read.schema(StructType(
        declared.fields.map(f => f.copy(name = phys(f.name))) ++ extra))
      .parquet(paths: _*)
    if (colMap.isEmpty) raw
    else raw.select((declared.fields.map(f => col(phys(f.name)).as(f.name)) ++
      extra.map(f => col(f.name))).toSeq: _*)
  }

  /** Delete `p` and everything under it. */
  private def deleteTree(p: Path): Unit = {
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(p)
    val all = try walk.iterator().asScala.toSeq.reverse finally walk.close()
    all.foreach(Files.deleteIfExists(_))
  }

  /** Run `body` over a fresh staging directory under the table root,
    * then delete the directory with whatever `body` left in it. */
  private def withStaging[A](root: String, tag: String)(body: Path => A): A = {
    val tmp = Files.createTempDirectory(Paths.get(root), s"stage-$tag-")
    try body(tmp) finally deleteTree(tmp)
  }

  /** Write `df` as parquet into a staging directory, then move its part
    * files into data/ as `<prefix>-<nonce>-<i>.parquet`, in part order.
    * The random nonce makes names collision-free across CONCURRENT
    * writers (two committers at the same guessed version must never
    * move onto each other's bytes — POSIX rename replaces silently);
    * names are opaque, the log is the identity. */
  private def stageFiles(df: DataFrame, root: String, prefix: String): Seq[Path] =
    withStaging(root, prefix) { tmp =>
      df.write.mode("overwrite").parquet(tmp.toString)
      val nonce = java.util.UUID.randomUUID().toString.take(8)
      Files.createDirectories(dataDir(root))
      listDir(tmp).filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString).zipWithIndex.map { case (p, i) =>
          val dest = dataDir(root).resolve(s"$prefix-$nonce-$i.parquet")
          Files.move(p, dest, StandardCopyOption.ATOMIC_MOVE)
          dest
        }
    }

  /** Write `df` as data files named `<prefix>-…` and return their log
    * entries, with per-file key min/max — and,
    * for `st`'s declared secondary columns, their per-file ranges too —
    * read from the parquet footers, with the one-pass Spark stats job
    * as the exactness fallback, see [[footerEntries]]. The files are
    * INVISIBLE until a commit references them — the crash-safety
    * property: an orphaned write is garbage, never a torn table. */
  private def writeFiles(spark: SparkSession, df: DataFrame, root: String,
                         st: State, prefix: String): Seq[FileEntry] = {
    val key = st.key
    val physDf = toPhysical(df, st.colMap)
    val moved = stageFiles(physDf, root, prefix)
    if (moved.isEmpty) return Seq.empty
    // per-file stats come FROM THE FOOTERS the parquet writer just
    // produced — no Spark job, no re-read of the data pages; the Spark
    // stats job [[statsPassEntries]] is the exactness fallback for
    // anything the footers can't prove (None)
    val physStatsCols = st.statsCols.distinct.filter(_ != key).map(st.physOf)
    val footerStats = if (!physDf.columns.contains(key)) None else
      footerEntries(spark.sessionState.newHadoopConf(), moved,
        physDf.schema, key, physStatsCols.filter(physDf.columns.contains)
          .map(c => (c, physDf.schema(c).dataType)))
    footerStats.getOrElse(statsPassEntries(spark, moved, key, physStatsCols))
  }

  /** The one-pass Spark stats job over just-written files: the
    * exactness fallback of [[footerEntries]]. `physStatsCols` are the
    * declared secondary statistics columns by PHYSICAL name. */
  private[graft] def statsPassEntries(spark: SparkSession, moved: Seq[Path],
                                      key: String, physStatsCols: Seq[String])
      : Seq[FileEntry] = {
    // one pass over the new files for per-file stats (the log never
    // stores data, only names + ranges)
    // integral keys record a BIGINT range; STRING keys additionally
    // record their lexicographic min/max (r15) — the stats that keep
    // merges on URL-/digest-keyed state tables proportional to the
    // touched keys. Anything else (composites, doubles) casts to
    // null: such a file records the FULL key range, so pruning
    // degrades to touch-this-file-always instead of silently
    // skipping it (the degrade-never-miss posture a MERGE must have)
    val back = spark.read.parquet(moved.map(_.toString): _*)
    val keyIsString =
      back.schema(key).dataType == org.apache.spark.sql.types.StringType
    // declared secondary statistics columns present in this frame,
    // with their typed min/max projections (same single stats pass).
    // `back` is the PHYSICAL frame, and ColStat keys are PHYSICAL
    // names (r18): physical names never change, so a rename leaves
    // every old entry's stats addressable — readers translate
    // logical → physical before the lookup
    val secondary = physStatsCols.filter(c => back.columns.contains(c))
      .flatMap(c => statProjections(back.schema(c).dataType, c)
        .map { case (proj, numeric) => (c, proj, numeric) })
    // null counts ride the same pass (r18): [[deleteWhere]]'s
    // metadata-only drop is sound only for files PROVEN all-non-null
    // in the predicate column (a NULL matches no range predicate and
    // must survive the delete), so every new file logs them
    val secondaryAggs = secondary.zipWithIndex.flatMap {
      case ((c, proj, _), i) =>
        Seq(min(proj).as(s"_c${i}lo"), max(proj).as(s"_c${i}hi"),
          sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"_c${i}nn"))
    }
    val stats = back
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("rows"),
        Seq(
          min(expr(s"try_cast(`$key` AS BIGINT)")).as("kmin"),
          max(expr(s"try_cast(`$key` AS BIGINT)")).as("kmax"),
          min(if (keyIsString) col(key) else lit(null).cast("string")).as("smin"),
          max(if (keyIsString) col(key) else lit(null).cast("string")).as("smax"),
          sum(when(col(key).isNull, 1L).otherwise(0L)).as("knn")
        ) ++ secondaryAggs: _*)
      .collect()
      .map { r =>
        val kmin = if (r.isNullAt(2)) Long.MinValue else r.getLong(2)
        val kmax = if (r.isNullAt(3)) Long.MaxValue else r.getLong(3)
        val smin = if (r.isNullAt(4)) None else Some(r.getString(4))
        val smax = if (r.isNullAt(5)) None else Some(r.getString(5))
        val knn = if (r.isNullAt(6)) None else Some(r.getLong(6))
        val colStats = secondary.zipWithIndex.flatMap {
          case ((c, _, numeric), i) =>
            val lo = 7 + 3 * i; val hi = lo + 1; val nn = lo + 2
            val nnv = if (r.isNullAt(nn)) None else Some(r.getLong(nn))
            if (r.isNullAt(lo) || r.isNullAt(hi)) None
            else if (numeric)
              Some(c -> ColStat(nlo = Some(r.getLong(lo)),
                nhi = Some(r.getLong(hi)), nn = nnv))
            else
              Some(c -> ColStat(lo = Some(r.getString(lo)),
                hi = Some(r.getString(hi)), nn = nnv))
        }.toMap
        (r.getString(0), (r.getLong(1), kmin, kmax, smin, smax,
          if (colStats.isEmpty) None else Some(colStats), knn))
      }
      .toMap
    moved.map { p =>
      val (rows, kmin, kmax, smin, smax, cols, knn) = stats.collectFirst {
        case (f, s) if f.endsWith(p.getFileName.toString) => s
      }.getOrElse((0L, 0L, -1L, None, None, None, None))
      FileEntry(p.getFileName.toString, rows, kmin, kmax, smin, smax, cols,
        dv = None, knn = knn)
    }.filter(_.rows > 0)
  }

  /** Write change rows (table columns + `_change_type`) as CDC sidecar
    * files for the commit after `st` (r17 — Delta's `_change_data`,
    * written only for tables created with `cdc = true`): the feed's
    * rows are MATERIALIZED once at commit time, so every downstream
    * consumer ([[changes]], the st43 subscribers, c71-style cascades)
    * reads the tiny change files instead of re-reading the full
    * pre/post data files and re-running the diff join —
    * write-once-read-many, work ∝ changed rows. Change files store
    * PHYSICAL names like the data files, so a feed spanning a rename
    * reads every era's change files through one stable schema. Empty
    * change sets write nothing (a no-op commit stays metadata-only). */
  private def writeCdcFiles(df: DataFrame, root: String,
                            st: State): Option[Seq[String]] = {
    // materialize ONCE (r18, ADVICE): the emptiness probe used to run
    // the full CDC plan (for a merge, the full_outer pre/post diff
    // join) and the parquet write then ran it AGAIN — localCheckpoint
    // executes the plan a single time and both the probe and the write
    // read the checkpointed blocks (the blocks are ∝ changed rows,
    // never data)
    val mat = toPhysical(df, st.colMap).localCheckpoint()
    try {
      if (mat.isEmpty) None
      else nonEmpty(stageFiles(mat, root, f"cdc-${st.version + 1}%010d")
        .map(_.getFileName.toString))
    } finally release(mat)
  }

  /** Atomic create-if-absent commit AT a specific version; false when
    * another committer won that version, and the caller (the OCC loop
    * in [[occRetry]]) must then rebase or re-derive. Orphaned data
    * files from the losing attempt stay unreferenced — garbage for
    * vacuum, never visible.
    *
    * OBJECT-STORE CONTRACT (r17, documentation of the deployment
    * boundary): the table's entire atomicity and isolation story rests
    * on this ONE primitive — [[publish]]'s no-replace link as an
    * atomic put-if-absent on the versioned log record name. POSIX
    * filesystems (and HDFS create-no-overwrite) provide it natively.
    * An S3-class object store does NOT get this from a bare PUT
    * (last-writer-wins): a deployment there must substitute a
    * conditional-put primitive — S3 `If-None-Match:*`, GCS
    * `ifGenerationMatch=0`, Azure lease/ETag — or an external
    * arbitrator (the DynamoDB-backed LogStore of the Delta paper's §3
    * discussion). Everything else in this file is plain reads, listing
    * and immutable-file writes, which eventually-consistent stores
    * serve as-is; ONLY the log-record create needs the stronger
    * primitive, which is exactly Delta's LogStore plug-in boundary. */
  private def tryCommit(root: String, c: Commit): Boolean = {
    Files.createDirectories(logDir(root))
    publish(logDir(root).resolve(logName(c.version)),
      Serialization.write(c).getBytes(StandardCharsets.UTF_8))
  }

  /** Telemetry/test instrumentation for the OCC loop:
    * `attemptInvocations` counts diff DERIVATIONS (each one is a full
    * Spark job — the expensive thing a rebase avoids); `rebasedCommits`
    * counts lost races resolved by re-stamping the SAME diff at a later
    * version. Monotonic process-wide counters; specs read deltas. */
  private[graft] val attemptInvocations = new java.util.concurrent.atomic.AtomicLong
  private[graft] val rebasedCommits = new java.util.concurrent.atomic.AtomicLong
  /** Test seam: when set, run EXACTLY ONCE between diff derivation and
    * the commit attempt — the deterministic way to inject a racing
    * commit in specs (getAndSet(null) keeps the injected action's own
    * occRetry from re-triggering it). */
  private[graft] val testRaceInjector =
    new java.util.concurrent.atomic.AtomicReference[Runnable](null)

  /** True when the racing commit `r` provably cannot invalidate OUR
    * record `ours` (derived from an older snapshot), so it may be
    * REBASED (re-stamped at a later version) instead of re-derived —
    * the Delta conflict-detection posture (VLDB'20 §3.2: concurrent
    * transactions commit without re-execution when their read/write
    * sets are disjoint). Conditions, each conservative (any doubt →
    * re-derive):
    *  - `r` changes no schema (a re-derive would see the new schema
    *    and behave differently, so it must force one);
    *  - `r` carries no txn stamp for OUR appId (the idempotence
    *    watermark must be re-evaluated against r's commit);
    *  - `r` removed none of the files we read-and-removed (overlapping
    *    rewrites — the lost-update case rebase must never paper over);
    *  - `r`'s added files' key ranges are DISJOINT from our added
    *    files' ranges, by the string stats when both sides carry them,
    *    else by the numeric stats (whose full-range sentinels for
    *    non-castable keys make overlap the default — degrade to
    *    re-derive, never to a silent duplicate key: if both commits
    *    upserted the same key, their add ranges necessarily overlap). */
  private def rebaseSafe(r: Commit, ours: Commit): Boolean = {
    def overlap(a: FileEntry, b: FileEntry): Boolean = {
      val strDisjoint = (for (a1 <- a.smin; a2 <- a.smax;
                              b1 <- b.smin; b2 <- b.smax)
        yield a2 < b1 || b2 < a1).getOrElse(false)
      val numDisjoint = a.kmax < b.kmin || b.kmax < a.kmin
      !(strDisjoint || numDisjoint)
    }
    val removes = ours.removes.toSet
    r.schema.isEmpty &&
      !ours.txn.exists(t => r.txn.exists(_.appId == t.appId)) &&
      !r.removes.exists(removes.contains) &&
      !r.adds.exists(ra => ours.adds.exists(a => overlap(a, ra)))
  }

  /** A writer body's proposal to [[occRetry]]: the files to add and
    * remove and the change files written. The body sets any metadata
    * it changes (schema, dataChange, column mapping) on the draft;
    * [[occRetry]] stamps the version, key, op, commit time and txn. */
  private def draft(adds: Seq[FileEntry] = Seq.empty,
                    removes: Seq[String] = Seq.empty,
                    cdc: Option[Seq[String]] = None): Commit =
    Commit(0L, "", adds, removes, "", 0L, cdc = cdc)

  /** Commit attempts before [[occRetry]] gives up on a contended table. */
  private val MaxAttempts = 20

  /** The one commit path of every versioned writer: the optimistic-
    * concurrency loop. Each attempt replays the head state ONCE and
    * hands it to `body`; the body derives its [[draft]] from that
    * snapshot and the attempt publishes at the version after it. The
    * body decides what to read, write and remove; only this loop
    * decides whether and how that becomes a log record:
    *
    *  - KEY CHECK: a caller `key` that is not the table's key column
    *    is refused before `body` runs, naming both. Committing it would
    *    re-key the table, and its probe would compare that column's
    *    values to the files' key ranges: touched files could be missed
    *    and rows duplicated.
    *  - TXN WATERMARK (Delta's txn action): with `txn` = (appId,
    *    version), the write applies ONLY IF `version` is strictly
    *    greater than the last version recorded for that appId —
    *    otherwise nothing commits and the head version returns. The
    *    guard re-evaluates against each attempt's snapshot, so racing
    *    re-deliveries of one micro-batch linearize to one application.
    *  - NO-OP RULE: a draft with no adds, no removes and no schema
    *    change commits nothing and returns the head version — unless
    *    it carries a txn stamp: then a watermark-only record commits,
    *    so a retried batch no-ops on the guard instead of
    *    re-evaluating.
    *  - On collision the attempt re-derives from the NEW snapshot —
    *    blindly re-stamping a stale diff at the next version would
    *    re-add rewritten files whose originals a concurrent commit
    *    already replaced (a lost-update/duplicate-row corruption).
    *
    * Rebase fast path (r16, `allowRebase`: the merges, append and the
    * deletes): on a lost race, the racing commits are checked with
    * [[rebaseSafe]]; when EVERY racer is provably disjoint from our
    * record, the SAME record re-stamps at the next free version — no
    * Spark re-run. This is what lets N streaming sinks with disjoint
    * key ranges share one hot state table without serializing full-job
    * retries (the st34/st37 fleet posture). Any doubt — schema change,
    * overlapping files or key ranges, a same-app txn, an unreadable
    * racer record — falls back to the full re-derive, which was always
    * correct. */
  private def occRetry(root: String, op: String, key: Option[String],
                       txn: Option[(String, Long)] = None,
                       allowRebase: Boolean = false)(body: State => Commit): Long = {
    var tries = 0
    while (tries < MaxAttempts) {
      val st = replayState(root, None)
      require(st.version > 0L, s"TxTable at $root: no table to $op — create it first")
      key.foreach(k => require(k == st.key,
        s"TxTable $op at $root: '$k' is not the table's key column '${st.key}'"))
      attemptInvocations.incrementAndGet()
      if (txn.exists { case (app, tv) => st.txns.get(app).exists(_ >= tv) })
        return st.version   // already applied: idempotent no-op
      val d = body(st).copy(key = st.key, op = op,
        txn = txn.map { case (app, tv) => TxnAction(app, tv) })
      if (d.adds.isEmpty && d.removes.isEmpty && d.schema.isEmpty && d.txn.isEmpty)
        return st.version
      Option(testRaceInjector.getAndSet(null)).foreach(_.run())
      var tv = st.version + 1
      var rebases = 0
      var rebasing = true
      while (rebasing) {
        val c = d.copy(version = tv, ts = System.currentTimeMillis())
        if (tryCommit(root, c)) {
          maybeCheckpoint(root, tv)
          return tv
        }
        val cur = currentVersion(root)
        val racers = (tv to cur).map { rv =>
          try Some(readJson[Commit](logDir(root).resolve(logName(rv))))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        if (allowRebase && d.schema.isEmpty && rebases < MaxAttempts &&
            racers.forall(_.exists(rebaseSafe(_, c)))) {
          rebasedCommits.incrementAndGet()
          rebases += 1
          tv = cur + 1
        } else rebasing = false
      }
      tries += 1
    }
    throw new IllegalStateException(
      s"TxTable at $root: lost the commit race $MaxAttempts times")
  }

  /** CHECK-constraint enforcement (r17, the r16 verdict's item 4 —
    * Delta's table constraints): evaluate every declared invariant
    * against the rows a commit is about to write, in ONE aggregate
    * pass, and REFUSE the whole commit atomically on any violation.
    * SQL CHECK semantics: a NULL predicate result passes (only FALSE
    * violates). Enforcement is ∝ written rows, never the table —
    * carried-over files were validated when written. Runs BEFORE
    * [[writeFiles]], so a refused commit leaves zero garbage and the
    * table version/live set untouched. */
  private def enforceInvariants(frame: DataFrame,
                                invs: Map[String, String],
                                op: String): Unit = {
    if (invs.isEmpty) return
    val named = invs.toSeq
    val aggs = named.map { case (n, p) =>
      sum(when(!coalesce(expr(p), lit(true)), 1L).otherwise(0L)).as(n)
    }
    val r = frame.agg(aggs.head, aggs.tail: _*).collect().head
    val violated = named.zipWithIndex.collect {
      case ((n, p), i) if !r.isNullAt(i) && r.getLong(i) > 0 =>
        s"'$n' [$p] on ${r.getLong(i)} row(s)"
    }
    require(violated.isEmpty,
      s"TxTable $op: CHECK constraint violated — ${violated.mkString("; ")} " +
        "— the commit was refused atomically, nothing was written")
  }

  /** Initialize (or fully replace) the table at `root` with `df`.
    * `statsCols` (r16) declares the SECONDARY columns whose per-file
    * min/max every commit will log from then on (Delta collects
    * all-column stats; declaring them keeps log records proportional
    * to what reads actually prune on) — consumed by [[readWhere]].
    * `invariants` (r17) declares named CHECK constraints (SQL boolean
    * expressions over the table columns) recorded in the log and
    * enforced — atomically, refusal commits nothing — on the initial
    * load and on every [[merge]]/[[mergeConditional]] from then on.
    * `cdc = true` (r17 — Delta's enableChangeDataFeed) makes every
    * data-changing commit MATERIALIZE its change rows as CDC sidecar
    * files, so [[changes]] serves consumers from the tiny change
    * files instead of re-diffing pre/post data files per read —
    * write-once-read-many; opt-in because it adds write cost
    * (a DV delete then reads full rows, not just keys). */
  def create(spark: SparkSession, df: DataFrame, root: String,
             key: String, statsCols: Seq[String] = Seq.empty,
             invariants: Seq[(String, String)] = Seq.empty,
             cdc: Boolean = false): Long = {
    enforceInvariants(df, invariants.toMap, "create")
    val r = Paths.get(root)
    if (Files.exists(r)) deleteTree(r) // full replace: drop log + data
    Files.createDirectories(dataDir(root))
    val st = State(0L, Seq.empty, df.schema, Map.empty, key, statsCols,
      invariants.toMap, cdc, Map.empty, Seq.empty)
    val adds = writeFiles(spark, df, root, st, "base")
    require(tryCommit(root, firstCommit(st.copy(live = adds), "CREATE")),
      s"TxTable at $root: concurrent create detected")
    1L
  }

  /** The v1 record of a new table whose live files and metadata are
    * `st`'s: what [[create]] and [[cloneShallow]] write. */
  private def firstCommit(st: State, op: String): Commit =
    Commit(1L, st.key, st.live, Seq.empty, op, System.currentTimeMillis(),
      Some(st.schema.json), statsCols = nonEmpty(st.statsCols),
      invariants = nonEmpty(st.invariants), cdcOn = Option.when(st.cdcOn)(true),
      colMap = nonEmpty(st.colMap), retired = nonEmpty(st.retired),
      protocol = Some(Protocol))

  /** The declared CHECK constraints in force (name → SQL predicate). */
  def invariantsOf(root: String): Map[String, String] =
    replayState(root, None).invariants

  /** SHALLOW CLONE (r17 — Delta's CLONE, VLDB'20 ecosystem's zero-copy
    * branching): create at `dest` a new one-commit table whose v1
    * REFERENCES the source's live data files (and DV sidecars) at
    * `asOf` without copying a byte — the entries carry the source
    * files' ABSOLUTE paths, which every reader resolves verbatim
    * (`Path.resolve` returns an absolute operand unchanged), so a
    * 100 TB table branches for an experiment in one metadata write.
    * The clone's log is INDEPENDENT from the moment it exists:
    * merges/deletes rewrite touched files INTO the clone's own data
    * directory (copy-on-write — the source never observes them),
    * compaction materializes the clone fully local, and the clone's
    * vacuum lists only its own directory so it can never reclaim
    * source bytes. Schema, declared statsCols, CHECK invariants, the
    * cdc flag and the column-mapping state (colMap + retired — a clone
    * of a renamed table must keep reading the source's physical names)
    * carry over (Delta clones carry table properties,
    * enableChangeDataFeed included — r18, ADVICE: dropping cdcOn made a
    * clone of a feed-bearing table silently stop materializing change
    * files, degrading its subscribers to per-read diff replay).
    * Metadata-only:
    * no Spark session, no data read. Caveat, same as Delta's:
    * vacuuming the SOURCE can reclaim files a clone still references —
    * a clone is a branch, not a backup; the clone's reads then fail
    * loudly like any read of vacuumed history. */
  def cloneShallow(src: String, dest: String,
                   asOf: Option[Long] = None): Long = {
    val st = replayState(src, asOf)
    require(st.live.nonEmpty, s"TxTable at $src has no live files to clone")
    require(logVersions(dest).isEmpty,
      s"TxTable cloneShallow: $dest already has a log — clone into a fresh root")
    val srcData = dataDir(src).toAbsolutePath
    val entries = st.live.map(f => f.copy(
      name = srcData.resolve(f.name).toString,
      dv = f.dv.map(n => srcData.resolve(n).toString)))
    Files.createDirectories(dataDir(dest))
    require(tryCommit(dest, firstCommit(st.copy(live = entries), "CLONE")),
      s"TxTable cloneShallow: concurrent create at $dest")
    1L
  }

  /** The table schema in force at `asOf` (None = latest). */
  def schemaOf(root: String, asOf: Option[Long] = None): StructType =
    replayState(root, asOf).schema

  /** Snapshot read (optionally time-traveled to `asOf`). Reads ONLY the
    * live files — uncommitted or removed files are invisible. The read
    * goes through the DECLARED schema of that version (read-by-name:
    * old files predating a widening commit surface the added columns as
    * null; no footer merge pass, stable column order). */
  def read(spark: SparkSession, root: String,
           asOf: Option[Long] = None): DataFrame = {
    val st = replayState(root, asOf)
    require(st.live.nonEmpty, s"TxTable at $root has no live files")
    readEntries(spark, root, st.live, st.schema, st.key, st.colMap)
  }

  /** Read a set of live entries, applying per-file DELETION VECTORS
    * (r17 — the read half of [[deleteKeysDV]]). Files WITHOUT a DV
    * scan in one multi-file read, exactly the pre-r17 plan — a table
    * that never took a DV delete reads byte-identically to before.
    * Files WITH one scan together in a second multi-file read tagged
    * by `input_file_name`, and drop their deleted keys via ONE
    * broadcast anti-join on (file, key): sidecars are tiny key lists
    * (∝ deleted keys, never data), so the anti side always broadcasts
    * and the whole DV application adds no shuffle. Each sidecar
    * belongs to exactly ONE data file and lists only keys physically
    * present in it, so a key deleted from file A never masks a live
    * row of file B (the pair join, not a bare key join, is what makes
    * that hold). Sidecars read through the declared key field
    * (read-by-name, same widening rules as data files). */
  private def readEntries(spark: SparkSession, root: String,
                          entries: Seq[FileEntry],
                          declared: StructType,
                          key: String,
                          colMap: Map[String, String] = Map.empty)
      : DataFrame = {
    require(entries.nonEmpty, "TxTable readEntries: no entries")
    def rd(es: Seq[FileEntry]): DataFrame =
      scanLogical(spark, es.map(e => resolveData(root, e.name)), declared, colMap)
    val (dvd, plain) = entries.partition(_.dv.isDefined)
    val plainDf = if (plain.isEmpty) None else Some(rd(plain))
    val dvdDf = if (dvd.isEmpty) None else {
      val base = withFileTag(rd(dvd))
      val pairs = dvPairs(spark, root, dvd, declared(key))
      Some(base.join(broadcast(pairs),
          base(FileCol) === pairs(FileCol) && base(key) === pairs(key), "left_anti")
        .drop(FileCol))
    }
    (plainDf ++ dvdDf).reduce(_.unionByName(_))
  }

  /** The column that tags a scanned row with its data file's BASENAME.
    * Entry names may be ABSOLUTE (a shallow clone references the
    * source's files by absolute path) while input_file_name yields the
    * scan path, so both sides of a (file, key) pair join compare
    * basenames — collision-free: every writer embeds a UUID nonce, and
    * [[dvPairs]] makes the assumption loud. */
  private val FileCol = "_graft_file"

  private def baseName(n: String): String = Paths.get(n).getFileName.toString

  /** `df` (a bare file scan) with the basename of each row's file as
    * column `c`. */
  private def withFileTag(df: DataFrame, c: String = FileCol): DataFrame =
    df.withColumn(c, element_at(split(input_file_name(), "/"), -1))

  /** The (file, key) pairs the deletion vectors of the entries `dvd`
    * hold: each sidecar's keys, read through the declared `keyField`,
    * tagged under [[FileCol]] with the data file the sidecar belongs
    * to. */
  private def dvPairs(spark: SparkSession, root: String, dvd: Seq[FileEntry],
                      keyField: StructField): DataFrame = {
    import spark.implicits._
    require(dvd.map(e => baseName(e.name)).distinct.size == dvd.size,
      "TxTable: DV'd entries with colliding file basenames")
    val sidecarToFile = dvd.map(e => (baseName(e.dv.get), baseName(e.name)))
      .toDF("_graft_dv", FileCol)
    withFileTag(spark.read.schema(StructType(Seq(keyField)))
        .parquet(dvd.map(e => resolveData(root, e.dv.get)): _*), "_graft_dv")
      .join(broadcast(sidecarToFile), Seq("_graft_dv"))
      .select(col(FileCol), col(keyField.name))
  }

  /** A query bound normalized to the two comparison domains the logged
    * stats speak: numeric (BIGINT) and lexicographic string. Dates
    * render to ISO strings (which order like their values — the same
    * rendering the writer's stats pass logs). Timestamps are NOT
    * normalized: their stats rendering is session-timezone-dependent
    * and a cross-timezone bound could prune a file that matches — the
    * degrade is no pruning, never a missed row. Anything unrecognized
    * normalizes to neither domain, which keeps every file. */
  private def normBound(v: Any): (Option[Long], Option[String]) = v match {
    case n: Byte => (Some(n.toLong), None)
    case n: Short => (Some(n.toLong), None)
    case n: Int => (Some(n.toLong), None)
    case n: Long => (Some(n), None)
    case s: String => (None, Some(s))
    case d: java.sql.Date => (None, Some(d.toString))
    case d: java.time.LocalDate => (None, Some(d.toString))
    case _ => (None, None)
  }

  /** Partition of the live files at `asOf` into (kept, pruned) for a
    * closed-range read `lo <= column <= hi` — the decision [[readWhere]]
    * acts on, exposed so specs and operators can PROVE what a read will
    * touch without touching it (the q71 posture: metadata only, no data
    * file opened). The key column prunes on its kmin/kmax (and, for
    * string keys, smin/smax) stats; declared secondary columns on their
    * logged [[ColStat]] ranges. A file is pruned ONLY when its range is
    * provably disjoint from the bounds in a domain both sides speak —
    * missing stats, unsupported bound types, and full-range sentinels
    * all keep the file (degrade-never-miss). */
  def liveFilesWhere(root: String, column: String, lo: Any, hi: Any,
                     asOf: Option[Long] = None)
      : (Seq[FileEntry], Seq[FileEntry]) =
    liveFilesWhereAll(root, Seq((column, lo, hi)), asOf)

  /** [[liveFilesWhere]] for a CONJUNCTION of closed ranges — a file is
    * pruned when ANY predicate's logged range is provably disjoint
    * (the rectangle read over a z-ordered table prunes on both
    * dimensions at once, which is the point of the z layout). */
  def liveFilesWhereAll(root: String, preds: Seq[(String, Any, Any)],
                        asOf: Option[Long] = None)
      : (Seq[FileEntry], Seq[FileEntry]) =
    mightMatch(replayState(root, asOf), preds)

  /** `st`'s live files split into (kept, pruned): a file is pruned when
    * some predicate is provably disjoint from its logged range. */
  private def mightMatch(st: State, preds: Seq[(String, Any, Any)])
      : (Seq[FileEntry], Seq[FileEntry]) =
    st.live.partition(f =>
      preds.forall { case (c, lo, hi) => predRelation(st, f, c, lo, hi) != 0 })

  /** Range read with READER-SIDE DATA SKIPPING (r16 — Delta's data
    * skipping, the reader half of the stats the log has carried since
    * r14): `lo <= column <= hi` over the snapshot at `asOf`, opening
    * ONLY the live files whose logged range can intersect the bounds —
    * every other file is pruned from the LOG alone, before any parquet
    * footer is touched. On a 100 TB state table this is the difference
    * between a point/range query that lists-and-opens every live file
    * (what read()+filter does) and one that opens ~the matching z-cells
    * (q83's rectangle) or ~one range-clustered file. `column` may be
    * the table key (kmin/kmax, smin/smax) or any column declared in
    * `create(statsCols = …)` (per-file [[ColStat]]). The residual
    * filter still applies — stats prune FILES, the scan prunes ROWS —
    * so the result equals `read(...).filter(lo <= column <= hi)`
    * exactly (the oracle contract), while a provably-empty result
    * opens ZERO files (the empty frame synthesizes from the declared
    * schema). Pruned-away files are never listed to Spark at all, so
    * the q71-style proof holds: physically delete them and the range
    * read still answers. */
  def readWhere(spark: SparkSession, root: String, column: String,
                lo: Any, hi: Any, asOf: Option[Long] = None): DataFrame =
    readWhereAll(spark, root, Seq((column, lo, hi)), asOf)

  /** [[readWhere]] for a CONJUNCTION of closed ranges — the rectangle
    * read: every predicate prunes files independently from the log,
    * and all of them apply as residual row filters on the scan. */
  def readWhereAll(spark: SparkSession, root: String,
                   preds: Seq[(String, Any, Any)],
                   asOf: Option[Long] = None): DataFrame = {
    // ONE replay serves the schema and the pruning decision, so a
    // commit landing meanwhile cannot mix snapshots
    val st = replayState(root, asOf)
    require(st.live.nonEmpty, s"TxTable at $root has no live files")
    val (kept, _) = mightMatch(st, preds)
    if (kept.isEmpty) spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], st.schema)
    else {
      val df = readEntries(spark, root, kept, st.schema, st.key, st.colMap)
      preds.foldLeft(df) { case (d, (c, lo, hi)) =>
        d.filter(col(c) >= lit(lo) && col(c) <= lit(hi))
      }
    }
  }

  /** The type promotions the parquet reader performs when an old file's
    * physical type is NARROWER than the declared schema (verified
    * empirically on this Spark: INT32→long, INT32(16)→int,
    * FLOAT→double) — the only same-name type changes merge accepts. */
  private val safeWidening: Set[(DataType, DataType)] = {
    import org.apache.spark.sql.types._
    Set((ShortType, IntegerType), (IntegerType, LongType),
      (FloatType, DoubleType))
  }

  /** File pruning for merges and deletes, and MERGE's one-row-per-key
    * contract, in ONE distributed action (r19, guide §1.2). `keyCnt` is
    * the caller's key frame `(_k, _c)`: a merge passes its per-key
    * source counts, a delete its distinct key set with `_c = 1` (no
    * extra groupBy). The frame feeds a broadcast range join over the
    * (small) file-range table, and the observed metrics of the join's
    * output (`Dataset.observe`) return (any duplicated key, the
    * cast-degrade flag, the touched names) from the result stage that
    * reads the key shuffle: no single-partition aggregate and collect
    * follow it as a job of their own. The metrics are read from the
    * probe's own query execution once its action returns. An
    * [[org.apache.spark.sql.Observation]] would carry the same row, but
    * it is completed by a listener on the asynchronous listener bus:
    * it is not complete when the action returns, and a dropped event
    * would leave the commit waiting forever.
    *
    * The uniqueness guard exists because the merge joins full_outer on
    * the key, so duplicate update keys would FAN OUT into duplicate
    * table rows — silent corruption of the one-row-per-key invariant.
    * Fail loudly instead (Delta's MERGE throws on multiple source
    * matches for the same reason).
    *
    * Pruning: string-keyed tables whose live files all carry string
    * stats (r15) prune on the lexicographic ranges (null keys match
    * nothing — they can never equal-match in an upsert or delete);
    * everything else prunes on the BIGINT cast, where ANY
    * null/uncastable key degrades to touch-every-file (a full rewrite
    * is correct, a missed file is not), matching the writer side's
    * full-range stats for such keys. Runs inside the OCC body, so a
    * rebase re-runs the guard too — idempotent, and the contended-
    * writer path is never the bench shape. */
  private def touchedFiles(spark: SparkSession, files: Seq[FileEntry],
                           keyCnt: DataFrame): Seq[FileEntry] = {
    import spark.implicits._
    val strPath =
      keyCnt.schema("_k").dataType == org.apache.spark.sql.types.StringType &&
        files.forall(f => f.smin.isDefined && f.smax.isDefined)
    val withCast =
      if (strPath) keyCnt.withColumn("_kc", col("_k"))
      else keyCnt.withColumn("_kc", expr("try_cast(`_k` AS BIGINT)"))
    val ranges =
      if (strPath) files.map(f => (f.name, f.smin.get, f.smax.get))
        .toDF("name", "lo", "hi")
      else files.map(f => (f.name, f.kmin, f.kmax)).toDF("name", "lo", "hi")
    val qe = withCast
      .join(broadcast(ranges), col("_kc").between(col("lo"), col("hi")), "left")
      .observe("probe",
        max(when(col("_c") > 1, lit(1)).otherwise(lit(0))).as("hasdup"),
        max(when(col("_c") > 1, col("_k").cast("string"))).as("dupk"),
        max(when(col("_kc").isNull, lit(1)).otherwise(lit(0))).as("nocast"),
        collect_set(col("name")).as("touched"))
      .queryExecution
    org.apache.spark.sql.execution.SQLExecution.withNewExecutionId(qe,
      Some("TxTable file probe"))(qe.toRdd.foreach(_ => ()))
    val r = qe.observedMetrics("probe")
    require(r.isNullAt(0) || r.getInt(0) == 0,
      s"TxTable merge: updates carry duplicate key " +
        s"'${if (r.isNullAt(1)) null else r.getString(1)}' — " +
        "one row per key required (dedupe with an explicit latest-wins rule first)")
    if (!strPath && !r.isNullAt(2) && r.getInt(2) == 1) files
    else {
      val touched = r.getSeq[String](3).toSet
      files.filter(f => touched.contains(f.name))
    }
  }

  /** [[merge]]/[[mergeConditional]]'s source materialization (r18),
    * minus the redundant copy (r19): when the caller already hands a
    * MATERIALIZED frame — a `localCheckpoint`ed delta (every streaming
    * sink does this) or a local relation — re-checkpointing it would
    * re-copy the blocks in one more Spark job per commit for nothing;
    * reading an existing LogicalRDD/LocalRelation twice is exactly the
    * "every consumer reads the blocks" contract already. */
  private def materializedOnce(df: DataFrame): DataFrame =
    df.queryExecution.analyzed match {
      case _: org.apache.spark.sql.execution.LogicalRDD => df
      case _: org.apache.spark.sql.catalyst.plans.logical.LocalRelation => df
      case _ => df.localCheckpoint()
    }

  /** Drops the blocks of a frame staged with `localCheckpoint` by the
    * same operation, once nothing reads them again: a session that runs
    * many commits would otherwise keep every commit's staging. */
  private[graft] def release(staged: DataFrame): Unit =
    staged.queryExecution.analyzed match {
      case r: org.apache.spark.sql.execution.LogicalRDD =>
        r.rdd.unpersist(blocking = false); ()
      case _ =>
    }

  /** Storage-level MERGE (upsert by `key`): [[mergeConditional]]'s
    * default clauses (update on match, insert when unmatched, keep
    * target-only rows) plus schema evolution. Only files whose key
    * range intersects the update keys are read and rewritten; every
    * other file carries over untouched — the file-level pruning that
    * makes a merge on a 100 TB state table proportional to the touched
    * keys, not the table. One atomic commit swaps removed-for-rewritten.
    *
    * Schema evolution, worked out inside each OCC attempt against that
    * attempt's snapshot: updates may ADD columns (the widened schema is
    * committed; carried-over files read through it with nulls) but must
    * carry EVERY existing table column — a missing column fails loudly
    * rather than silently nulling matched rows. A same-name column
    * arriving with a DIFFERENT type is accepted only as a SAFE widening
    * (short→int, int→long, float→double — the promotions the parquet
    * reader performs under a declared wider schema, verified
    * empirically): the commit widens the declared schema and every old
    * narrow file upcasts on read; anything else fails loudly AT THE
    * MERGE (r15: it used to explode at a later read, far from the
    * cause). An added column may not take a dropped or renamed column's
    * physical name (r18 column mapping: old files still hold a dropped
    * column's bytes, and by-name reads would resurrect its stale values
    * — which is why drop REFUSES reuse rather than silently remapping).
    *
    * Idempotent writes (`txn`, the Delta txn action): when the caller
    * passes (appId, version), the merge applies ONLY IF `version` is
    * strictly greater than the last version recorded for that appId —
    * otherwise it no-ops and returns the current table version. The
    * guard re-evaluates inside the OCC loop against each fresh
    * snapshot, so two racing re-deliveries of the same micro-batch
    * linearize to exactly one application. */
  def merge(spark: SparkSession, root: String, updates0: DataFrame,
            key: String, txn: Option[(String, Long)] = None): Long =
    mergeBody(spark, root, updates0, key, txn, "merge") { (st, updates) =>
      val ts = st.schema
      val tblCols = ts.fieldNames.toSeq
      val missing = tblCols.filterNot(updates.columns.contains)
      require(missing.isEmpty,
        s"TxTable merge: updates missing table column(s) ${missing.mkString(", ")} — " +
          "a merge must carry every existing column (schema can widen, never shrink)")
      val widened = ts.fields.filter(f =>
          updates.schema(f.name).dataType != f.dataType)
        .map { f =>
          val up = updates.schema(f.name).dataType
          require(safeWidening.contains((f.dataType, up)),
            s"TxTable merge: column '${f.name}' arrives as $up but the table " +
              s"declares ${f.dataType} — only lossless widenings " +
              "(short→int, int→long, float→double) are applied; cast the " +
              "updates explicitly for anything else")
          f.name -> up
        }.toMap
      val added = updates.columns.toSeq.filterNot(tblCols.contains)
      val usedPhys = tblCols.map(st.physOf).toSet ++ st.retired
      val clash = added.filter(usedPhys.contains)
      require(clash.isEmpty,
        s"TxTable merge: column(s) ${clash.mkString(", ")} collide " +
          "with a dropped or renamed column's physical storage name " +
          "— dropped names are never reusable (old files still hold " +
          "their bytes); pick a different name")
      if (added.isEmpty && widened.isEmpty) (ts, None)
      else {
        val evolved = StructType(ts.fields.map(f =>
          widened.get(f.name).map(t => f.copy(dataType = t)).getOrElse(f)) ++
          added.map(c => updates.schema(c)))
        (evolved, Some(evolved.json))
      }
    }

  /** Clause-predicate shape for [[mergeConditional]]: a function of the
    * SOURCE and TARGET column accessors returning a boolean Column —
    * e.g. update-if-newer is `(s, t) => s("seq") > t("seq")`, a CDC
    * delete op is `(s, _) => s("op") === "D"`. */
  type MergeCond = (String => org.apache.spark.sql.Column,
                    String => org.apache.spark.sql.Column)
                   => org.apache.spark.sql.Column

  /** CONDITIONAL MERGE — Delta's `WHEN MATCHED [AND pred] THEN
    * UPDATE/DELETE, WHEN NOT MATCHED [AND pred] THEN INSERT` (r16, the
    * r15 verdict's item 6), the clause set a CDC apply needs to express
    * delete-ops and update-if-newer INSIDE the transactional layer
    * instead of resolving them in-stream first:
    *
    *  - matched + `matchedDelete` true            → row deleted
    *  - matched, not deleted, `matchedUpdate` true (or None) → source
    *    row replaces the target row; condition FALSE keeps the target
    *    row untouched (the stale-update no-op)
    *  - source-only + `notMatchedInsert` true (or None) → insert;
    *    false → dropped (e.g. delete-of-absent no-ops when the clause
    *    is `op =!= "D"`)
    *  - target-only rows always carry over.
    *
    * Clause predicates see BOTH sides through the accessors; a null
    * predicate result counts as false (SQL clause semantics). The
    * SOURCE may carry EXTRA columns (op flags, sequence numbers) that
    * exist only for the predicates — the written row is the source
    * projected to the TABLE schema, so condition columns never leak
    * into the table and there is NO schema evolution here (unlike
    * [[merge]]): same-name columns must arrive with the declared type,
    * anything else fails loudly. File pruning, OCC with the r16 rebase
    * fast path, and the (appId, version) idempotence guard all work
    * exactly as in [[merge]]; a txn-stamped batch whose clauses filter
    * everything still commits an EMPTY record so the watermark
    * advances (a retried filtered batch must no-op on the guard, not
    * re-evaluate its clauses).
    *
    * UPDATE SET expressions (r18, the r17 verdict's lead item — Delta's
    * `WHEN MATCHED THEN UPDATE SET t.rev = t.rev + s.rev`):
    * `matchedUpdateSet` maps table columns to expressions over BOTH
    * sides' accessors; a matched-and-updated row then takes each SET
    * column's expression value and keeps the TARGET's value for every
    * column not named (Delta's partial-update semantics) — instead of
    * the source row replacing the target wholesale. This is what makes
    * incremental materialized-view maintenance work ∝ the delta: the
    * additive combine `t("rev") + s("rev")` happens INSIDE the merge's
    * touched-files-only read, so a standing MV subscriber (q70, st34,
    * st37, st43) never reads its full sink per micro-batch — before
    * this, the combine forced `TxTable.read` of the ENTIRE sink table
    * per delta, a full MV scan the scaladoc's "read current values for
    * affected keys" promise contradicted. Expression results cast to
    * the declared column type (the declared-schema invariant must
    * survive arbitrary arithmetic); the key column cannot be SET;
    * not-matched inserts still take the source row verbatim (a fresh
    * key's initial value IS its delta). None preserves the replace
    * semantics exactly. */
  def mergeConditional(spark: SparkSession, root: String, updates0: DataFrame,
                       key: String,
                       matchedDelete: Option[MergeCond] = None,
                       matchedUpdate: Option[MergeCond] = None,
                       matchedUpdateSet: Option[Map[String, MergeCond]] = None,
                       notMatchedInsert: Option[MergeCond] = None,
                       txn: Option[(String, Long)] = None): Long =
    mergeBody(spark, root, updates0, key, txn, "mergeConditional",
        matchedDelete, matchedUpdate, matchedUpdateSet, notMatchedInsert) {
      (st, updates) =>
        val ts = st.schema
        val tblCols = ts.fieldNames.toSeq
        val missing = tblCols.filterNot(updates.columns.contains)
        require(missing.isEmpty,
          s"TxTable mergeConditional: updates missing table column(s) " +
            s"${missing.mkString(", ")}")
        tblCols.filterNot(_ == key).foreach { c =>
          require(updates.schema(c).dataType == ts(c).dataType,
            s"TxTable mergeConditional: column '$c' arrives as " +
              s"${updates.schema(c).dataType} but the table declares " +
              s"${ts(c).dataType} — no schema evolution in conditional " +
              "merges; cast the updates explicitly")
        }
        matchedUpdateSet.foreach { m =>
          require(!m.contains(key),
            s"TxTable mergeConditional: SET cannot assign the key column '$key'")
          val unknown = m.keys.filterNot(tblCols.contains).toSeq
          require(unknown.isEmpty,
            s"TxTable mergeConditional: SET names unknown column(s) " +
              s"${unknown.mkString(", ")}")
        }
        (ts, None)
    }

  /** The one MERGE body behind [[merge]] and [[mergeConditional]].
    * `target` runs inside each OCC attempt, after the txn guard: it
    * validates the source against that attempt's snapshot and returns
    * the schema the merged rows take, plus the commit's new schema JSON
    * when that schema evolved (None: unchanged). Everything else
    * happens here once: the source materializes once, the uniqueness
    * guard and file pruning share one action, the touched files are
    * read through the target schema (read-by-name, like read(): a bare
    * inferred read after a widening commit would take its schema from
    * whichever touched file it samples; DV-aware since r17, so the
    * rewrite MATERIALIZES a touched file's vector away), one full_outer
    * clause join yields both the rewrite and the change rows, invariants
    * are enforced on the rewrite, and one atomic commit swaps the
    * touched files for the rewritten ones — or nothing, under
    * [[occRetry]]'s no-op rule. `name` prefixes the entry point's
    * errors. */
  private def mergeBody(spark: SparkSession, root: String, updates0: DataFrame,
                        key: String, txn: Option[(String, Long)], name: String,
                        matchedDelete: Option[MergeCond] = None,
                        matchedUpdate: Option[MergeCond] = None,
                        matchedUpdateSet: Option[Map[String, MergeCond]] = None,
                        notMatchedInsert: Option[MergeCond] = None)(
      target: (State, DataFrame) => (StructType, Option[String])): Long = {
    // r18 (optimization round, guide §1.2/§5): materialize the updates
    // ONCE — Delta materializes its merge source for the same reason.
    // The guard, the pruning, the clause join and the CDC rows all read
    // the checkpointed blocks (∝ the batch, never the table), and an
    // OCC re-derivation re-reads blocks instead of re-running the plan.
    val updates = materializedOnce(updates0)
    try occRetry(root, "MERGE", Some(key), txn, allowRebase = true) { st =>
      val (ts, newSchema) = target(st, updates)
      val tblCols = ts.fieldNames.toSeq
      val touched = touchedFiles(spark, st.live,
        updates.groupBy(col(key).as("_k")).agg(count(lit(1)).as("_c")))
      // an empty LOCAL relation, so the optimizer folds the join of a
      // pure-insert merge into a projection of the source
      val base =
        if (touched.isEmpty) spark.createDataFrame(
          java.util.Collections.emptyList[org.apache.spark.sql.Row](), ts)
        else readEntries(spark, root, touched, ts, key, st.colMap)
      val src = updates.select(
        (col(key).as("_mk") +: lit(true).as("_sp") +:
          updates.columns.filterNot(_ == key).toSeq
            .map(c => col(c).as(s"_s_$c"))): _*)
      val tgt = base.select(
        (col(key).as("_mk") +: lit(true).as("_tp") +:
          tblCols.filterNot(_ == key).map(c => col(c).as(s"_t_$c"))): _*)
      val j0 = tgt.join(src, Seq("_mk"), "full_outer")
      // a CDC-enabled merge derives FIVE frames from this join (the
      // rewrite + four change-row branches): checkpoint it so the
      // full_outer executes once and every branch reads the blocks
      // (r18 optimization round); without cdc the join runs once
      // anyway — no checkpoint, no extra pass
      val j = if (st.cdcOn) j0.localCheckpoint() else j0
      try {
        val srcAcc: String => org.apache.spark.sql.Column =
          c => if (c == key) col("_mk") else col(s"_s_$c")
        val tgtAcc: String => org.apache.spark.sql.Column =
          c => if (c == key) col("_mk") else col(s"_t_$c")
        val matched = col("_tp").isNotNull && col("_sp").isNotNull
        val tgtOnly = col("_tp").isNotNull && col("_sp").isNull
        val srcOnly = col("_tp").isNull && col("_sp").isNotNull
        val delC = coalesce(
          matchedDelete.map(_(srcAcc, tgtAcc)).getOrElse(lit(false)), lit(false))
        val updC = coalesce(
          matchedUpdate.map(_(srcAcc, tgtAcc)).getOrElse(lit(true)), lit(false))
        val insC = coalesce(
          notMatchedInsert.map(_(srcAcc, tgtAcc)).getOrElse(lit(true)), lit(false))
        val keep = tgtOnly || (matched && !delC) || (srcOnly && insC)
        val matchedUpd = matched && !delC && updC
        // a matched-and-updated row's value per column: the SET
        // expression when one is declared for the column, the TARGET's
        // value for unnamed columns under a SET map (partial update),
        // and the source's value in replace mode (no SET map)
        val updAcc: String => org.apache.spark.sql.Column = c =>
          matchedUpdateSet match {
            case Some(m) => m.get(c)
              .map(f => f(srcAcc, tgtAcc).cast(ts(c).dataType))
              .getOrElse(tgtAcc(c))
            case None => srcAcc(c)
          }
        val merged = j.filter(keep).select(tblCols.map { c =>
          if (c == key) col("_mk").as(key)
          else when(matchedUpd, updAcc(c))
            .when(srcOnly, srcAcc(c))
            .otherwise(tgtAcc(c)).as(c)
        }: _*)
        enforceInvariants(merged, st.invariants, name)
        val cdc = if (!st.cdcOn) None else {
          // change rows straight from the clause join: the same
          // outcomes the rewrite materializes, emitted as the feed —
          // deletes carry the target row, updates pre+post (no-op
          // updates where the source equals the target stay silent),
          // clause-admitted source-only keys insert
          def side(acc: String => org.apache.spark.sql.Column) =
            struct(tblCols.map(c =>
              (if (c == key) col("_mk") else acc(c)).as(c)): _*)
          def rows(cond: org.apache.spark.sql.Column,
                   acc: String => org.apache.spark.sql.Column,
                   tpe: String) =
            j.filter(cond).select(tblCols.map(c =>
                (if (c == key) col("_mk") else acc(c)).as(c)): _*)
              .withColumn("_change_type", lit(tpe))
          // the post side is the SET result when a SET map is declared
          // (the feed must carry what the rewrite WRITES, not the raw
          // source); no-op detection compares the same value
          val updDiff = matchedUpd && !(side(updAcc) <=> side(tgtAcc))
          val cdcDf = rows(matched && delC, tgtAcc, "delete")
            .unionByName(rows(updDiff, tgtAcc, "update_preimage"))
            .unionByName(rows(updDiff, updAcc, "update_postimage"))
            .unionByName(rows(srcOnly && insC, srcAcc, "insert"))
          writeCdcFiles(cdcDf, root, st)
        }
        draft(writeFiles(spark, merged, root, st, st.filePrefix("merge")),
          touched.map(_.name), cdc).copy(schema = newSchema)
      } finally if (j ne j0) release(j)
    } finally if (updates ne updates0) release(updates)
  }

  /** Blind APPEND (r17 — Delta's append mode): write `df` as new data
    * files and commit ADDS ONLY — no snapshot read, no key join, no
    * file rewrite, nothing removed. This is the cheapest ingest path a
    * log-structured table has, and the one a high-volume streaming
    * ingest should take when its rows are known-new (event logs,
    * immutable records): [[merge]] pays a uniqueness check, file
    * pruning and a rewrite join even when every key is fresh. Two
    * appends can NEVER conflict semantically, and an append removes
    * nothing, so OCC races against other appends resolve by rebase
    * when ranges are disjoint and by a re-stamp-after-re-derive
    * otherwise — both cheap (the derivation is just the staged write).
    * CAVEAT, same as Delta's: append does NOT enforce one-row-per-key —
    * the caller owns key uniqueness; appending an existing key makes
    * later merges/deletes treat both rows as that key's rows. Schema:
    * the frame must carry every table column at its declared type (no
    * evolution here — widen through [[merge]]). CHECK invariants are
    * enforced on the appended rows (∝ batch); the (appId, version)
    * idempotence guard makes at-least-once streaming appends
    * exactly-once; cdc-enabled tables materialize every appended row
    * as an `insert` change. */
  def append(spark: SparkSession, root: String, df: DataFrame,
             key: String, txn: Option[(String, Long)] = None): Long =
    occRetry(root, "APPEND", Some(key), txn, allowRebase = true) { st =>
      val ts = st.schema
      val missing = ts.fieldNames.filterNot(df.columns.contains)
      require(missing.isEmpty,
        s"TxTable append: frame missing table column(s) " +
          s"${missing.mkString(", ")}")
      // EXTRA columns are refused too (r18): writeFiles
      // persists the frame verbatim, so an undeclared column would
      // land in the parquet bytes invisibly — and if a later merge
      // legitimately ADDS a column of that name via schema
      // evolution, by-name reads of the appended files would
      // surface the stale smuggled values instead of nulls (the
      // r14 silent-corruption class; Delta rejects extra columns
      // on append without mergeSchema for the same reason).
      val extra = df.columns.filterNot(ts.fieldNames.contains)
      require(extra.isEmpty,
        s"TxTable append: frame carries undeclared column(s) " +
          s"${extra.mkString(", ")} — append never evolves the " +
          "schema; widen through merge first or drop them")
      ts.fields.foreach { f =>
        require(df.schema(f.name).dataType == f.dataType,
          s"TxTable append: column '${f.name}' arrives as " +
            s"${df.schema(f.name).dataType} but the table declares " +
            s"${f.dataType} — no schema evolution on append")
      }
      enforceInvariants(df, st.invariants, "append")
      val cdc = if (!st.cdcOn) None else
        writeCdcFiles(df.withColumn("_change_type", lit("insert")), root, st)
      draft(writeFiles(spark, df, root, st, st.filePrefix("append")), cdc = cdc)
    }

  /** Storage-level DELETE by key — the other half of a CDC sink: prune
    * to the files whose key range intersects the delete set, rewrite
    * them without those keys, one atomic commit. Delete-of-absent is a
    * no-op (idempotent replay, the applyCdc contract). */
  def deleteKeys(spark: SparkSession, root: String, keys: DataFrame,
                 key: String): Long =
    deleteByKeys(spark, root, keys, key, "DELETE", None) { (st, ks, touched) =>
      // declared-schema read, same reason as merge: an inferred read
      // over mixed pre-/post-widening touched files can sample the
      // narrow file and silently erase the widened column from every
      // surviving row the delete never mentioned; DV-aware (r17) so a
      // rewrite-delete after a DV delete materializes both
      val base0 = readEntries(spark, root, touched, st.schema, key, st.colMap)
      // cdc consumes the touched-files read twice: one pass (r18)
      val base = if (st.cdcOn) base0.localCheckpoint() else base0
      try {
        val cdc = if (!st.cdcOn) None else
          writeCdcFiles(base.join(ks, Seq(key), "left_semi")
            .withColumn("_change_type", lit("delete")), root, st)
        draft(writeFiles(spark, base.join(ks, Seq(key), "left_anti"), root, st,
          st.filePrefix("delete")), touched.map(_.name), cdc)
      } finally if (base ne base0) release(base)
    }

  /** The skeleton [[deleteKeys]] and [[deleteKeysDV]] share. The
    * distinct non-null keys of `keys` materialize ONCE (r18), so the
    * pruning probe, the rewrite and the CDC rows all read these blocks
    * instead of re-executing the caller's plan; null keys match no
    * equality join and no file range, so dropping them up front changes
    * nothing. Each attempt probes the live files the keys can touch
    * (no separate pre-check: it cost a duplicate pruning pass per call,
    * measurable at st38's per-micro-batch cadence) and hands them to
    * `body`; when none is touched the draft is empty, so
    * delete-of-absent is a no-op. */
  private def deleteByKeys(spark: SparkSession, root: String, keys: DataFrame,
                           key: String, op: String, txn: Option[(String, Long)])(
      body: (State, DataFrame, Seq[FileEntry]) => Commit): Long = {
    val ks = keys.select(col(key)).filter(col(key).isNotNull)
      .distinct().localCheckpoint()
    try occRetry(root, op, Some(key), txn, allowRebase = true) { st =>
      val touched = touchedFiles(spark, st.live,
        ks.select(col(key).as("_k"), lit(1L).as("_c")))
      if (touched.isEmpty) draft() else body(st, ks, touched)
    } finally release(ks)
  }

  /** Per-file relation of a closed-range predicate to a file's logged
    * stats: 0 = provably DISJOINT (no row can match), 1 = provably
    * INSIDE (every row matches — range containment AND a logged null
    * count of exactly zero, since a NULL matches no range predicate
    * and min/max never saw it), 2 = unknown/overlapping. Missing
    * stats, missing null counts, unsupported bound types and
    * full-range sentinels all answer 2 — the degrade is a residual
    * rewrite, never a wrong metadata decision. */
  private def predRelation(st: State, f: FileEntry, column: String,
                           lo: Any, hi: Any): Int = {
    val (nlo, slo) = normBound(lo)
    val (nhi, shi) = normBound(hi)
    val (cs, nulls): (Option[ColStat], Option[Long]) =
      if (column == st.key)
        (Some(ColStat(f.smin, f.smax, Some(f.kmin), Some(f.kmax))), f.knn)
      else {
        val c = f.cols.flatMap(_.get(st.physOf(column)))  // stats key physical
        (c, c.flatMap(_.nn))
      }
    cs match {
      case None => 2
      case Some(c) =>
        val numDisjoint = (for (a <- c.nlo; b <- c.nhi; l <- nlo; h <- nhi)
          yield b < l || h < a).getOrElse(false)
        val strDisjoint = (for (a <- c.lo; b <- c.hi; l <- slo; h <- shi)
          yield b < l || h < a).getOrElse(false)
        val numInside = (for (a <- c.nlo; b <- c.nhi; l <- nlo; h <- nhi)
          yield l <= a && b <= h).getOrElse(false)
        val strInside = (for (a <- c.lo; b <- c.hi; l <- slo; h <- shi)
          yield l <= a && b <= h).getOrElse(false)
        if (numDisjoint || strDisjoint) 0
        else if ((numInside || strInside) && nulls.contains(0L)) 1
        else 2
    }
  }

  /** The trichotomy [[deleteWhere]] acts on, exposed so gates and specs
    * can PROVE the metadata-only claim without running the delete:
    * (covered, partial, untouched) — covered files drop WITHOUT BEING
    * READ (every pred provably contains the file's whole range, null
    * count zero), untouched files carry over (some pred provably
    * disjoint), partial files rewrite their residual. */
  def deleteWhereFiles(root: String, preds: Seq[(String, Any, Any)],
                       asOf: Option[Long] = None)
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) = {
    val st = replayState(root, asOf)
    classifyDelete(st, preds)
  }

  private def classifyDelete(st: State, preds: Seq[(String, Any, Any)])
      : (Seq[FileEntry], Seq[FileEntry], Seq[FileEntry]) = {
    val rels = st.live.map { f =>
      f -> preds.map { case (c, lo, hi) => predRelation(st, f, c, lo, hi) }
    }
    val untouched = rels.filter(_._2.contains(0)).map(_._1)
    val covered = rels.filter { case (_, rs) => rs.forall(_ == 1) }.map(_._1)
    val partial = rels.filterNot { case (f, rs) =>
      rs.contains(0) || rs.forall(_ == 1) }.map(_._1)
    (covered, partial, untouched)
  }

  /** Predicate-scoped DELETE (r18, the r17 verdict's item 4 — Delta's
    * `DELETE FROM t WHERE …` with file-level stats pruning): removes
    * every row satisfying the CONJUNCTION of closed ranges
    * `lo <= column <= hi`, where each column is the table key or a
    * declared stats column — the retention-purge shape
    * (`DELETE WHERE o_orderdate < X`) that [[deleteKeys]] forced
    * through a scan + collect-keys + key-join before this. Three-way
    * file classification from the LOG alone ([[deleteWhereFiles]]):
    *
    *  - COVERED — every predicate provably contains the file's whole
    *    logged range and the file's logged null count for each
    *    predicate column is zero (a NULL row matches no range
    *    predicate and must SURVIVE a delete, so a file is droppable
    *    without reading only when provably null-free — the reason
    *    [[ColStat.nn]]/[[FileEntry.knn]] exist): dropped
    *    METADATA-ONLY, zero bytes read — on a range-clustered 100 TB
    *    table a time purge drops almost every affected file this way
    *    (the q87 proof applies: physically delete a covered file
    *    first and the DELETE still commits);
    *  - UNTOUCHED — some predicate provably disjoint: carried over,
    *    never listed to Spark;
    *  - PARTIAL — everything else: rewritten without the matching
    *    rows (rows with NULL in a predicate column are kept — SQL
    *    DELETE semantics; DV'd files apply their vector to the
    *    rewrite's base read and materialize it away, as in
    *    [[deleteKeys]]).
    *
    * Missing stats/null counts degrade the file to
    * PARTIAL — a wasted rewrite, never a wrong drop. On cdc-enabled
    * tables the deleted rows are materialized to the change feed,
    * which makes covered files no longer zero-READ (the documented
    * CDF write cost, Delta pays the same) but still zero-REWRITE.
    * Same OCC/rebase/idempotence posture as [[deleteKeys]]; a
    * txn-stamped batch that deletes nothing still advances the
    * watermark. */
  def deleteWhere(spark: SparkSession, root: String,
                  preds: Seq[(String, Any, Any)],
                  txn: Option[(String, Long)] = None): Long = {
    require(preds.nonEmpty, "TxTable deleteWhere: at least one predicate")
    occRetry(root, "DELETE_WHERE", None, txn, allowRebase = true) { st =>
      preds.foreach { case (c, _, _) =>
        require(c == st.key || st.statsCols.contains(c),
          s"TxTable deleteWhere: '$c' is neither the key nor a declared " +
            "stats column — phrase the delete on logged-stats columns " +
            "(or use deleteKeys for arbitrary key sets)")
      }
      val (covered, partial, _) = classifyDelete(st, preds)
      val delCond = preds.map { case (c, lo, hi) =>
        col(c) >= lit(lo) && col(c) <= lit(hi) }.reduce(_ && _)
      // NULL predicate results KEEP the row (SQL DELETE)
      val doomedRow = coalesce(delCond, lit(false))
      def rd(es: Seq[FileEntry]): Option[DataFrame] =
        if (es.isEmpty) None
        else Some(readEntries(spark, root, es, st.schema, st.key, st.colMap))
      val partialDf = rd(partial)
      val adds = partialDf.fold(Seq.empty[FileEntry])(base =>
        writeFiles(spark, base.filter(!doomedRow), root, st,
          st.filePrefix("delwhere")))
      val cdc = if (!st.cdcOn) None else
        (rd(covered) ++ partialDf.map(_.filter(doomedRow)))
          .reduceOption(_.unionByName(_))
          .flatMap(d =>
            writeCdcFiles(d.withColumn("_change_type", lit("delete")), root, st))
      draft(adds, (covered ++ partial).map(_.name), cdc)
    }
  }

  /** Merge-on-read DELETE via DELETION VECTORS (r17, the r16 verdict's
    * item 2 — Delta's deletion vectors in key-list form): instead of
    * rewriting every touched data file without the deleted keys (what
    * [[deleteKeys]] does — at 100 TB the dominant delete cost when a
    * compliance/CDC feed deletes a few keys per file, since one key
    * forces a whole-file rewrite), the commit writes one TINY sidecar
    * per touched file listing the keys deleted FROM THAT FILE and
    * re-stamps the file's log entry with `dv` naming it. ZERO data
    * files are rewritten — the only reads are column-pruned key-column
    * scans of the touched files (needed to keep the logged `rows`
    * exact and the sidecars restricted to keys actually present);
    * write volume ∝ deleted keys, never data. Readers ([[read]],
    * [[readWhere]], the merge/delete base reads, [[changes]]) apply
    * the sidecar as a broadcast anti-join; a later [[merge]]/
    * [[deleteKeys]]/compaction that rewrites the file MATERIALIZES the
    * vector away (rewritten entries carry no dv). A repeat DV delete
    * on an already-DV'd file writes a new sidecar carrying the UNION
    * of old and new keys, so an entry always references exactly one
    * sidecar. A file whose live rows reach zero is simply removed
    * (still zero rewrites). Delete-of-absent no-ops; file pruning, OCC
    * with the rebase fast path, and the (appId, version) idempotence
    * guard all match [[deleteKeys]] — a txn-stamped batch that touches
    * nothing still commits an empty record so the watermark advances
    * (the mergeConditional posture: a retried batch must no-op on the
    * guard, not re-evaluate). Sidecars live beside the data files, so
    * [[vacuum]] retention and [[restore]]'s existence validation cover
    * them by name like any other referenced file. */
  def deleteKeysDV(spark: SparkSession, root: String, keys: DataFrame,
                   key: String, txn: Option[(String, Long)] = None): Long =
    deleteByKeys(spark, root, keys, key, "DELETE_DV", txn) { (st, ks, touched) =>
      val keyField = st.schema(key)
      // ONE distributed pass over ALL touched files (r18 — the old
      // form looped per file on the driver, 2-4 blocking Spark jobs
      // each; a SCATTERED delete (st44's %5==0 compliance batch
      // touches every file) on a
      // 100 TB table (~10⁵ files) degraded to ~4×10⁵ sequential
      // jobs — hours of pure scheduling. Now: one multi-file
      // key-column scan tagged with its files, the per-file hit sets
      // and exact live counts fall out of TWO tiny aggregates over it,
      // and every new sidecar is written by a single partitioned job —
      // O(1) Spark jobs for N files).
      val byBase = touched.map(f => baseName(f.name) -> f).toMap
      require(byBase.size == touched.size,
        "TxTable deleteKeysDV: touched entries with colliding basenames")
      // (file, key) pairs physically present — the scan every count
      // below derives from; column-pruned to the key
      val phys = withFileTag(spark.read.schema(StructType(Seq(keyField)))
        .parquet(touched.map(f => resolveData(root, f.name)): _*))
      // keys ALREADY vectored, per file
      val withDv = touched.filter(_.dv.isDefined)
      val old =
        if (withDv.isEmpty) phys.select(col(FileCol), col(key)).limit(0)
        else dvPairs(spark, root, withDv, keyField)
      // newly-dead pairs: hits minus what the old vectors already
      // cover — a file with NO fresh pair keeps its entry untouched
      val hit = phys.join(broadcast(ks), Seq(key), "left_semi")
        .select(col(FileCol), col(key)).distinct()
      val fresh = hit.join(old, Seq(FileCol, key), "left_anti")
        .localCheckpoint()
      try {
        val freshCnt = fresh.groupBy(col(FileCol)).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        if (freshCnt.isEmpty) draft()
        else {
          // union sidecar contents for every CHANGED file (old keys +
          // fresh keys — an entry always references exactly one
          // sidecar), and exact live counts by anti-join (robust to
          // duplicate keys inside a created-not-merged file, where
          // per-key arithmetic would drift)
          val changedBase = freshCnt.keySet.toSeq
          val changedDf = {
            import spark.implicits._
            changedBase.toDF(FileCol)
          }
          val combined = old.unionByName(fresh)
            .join(broadcast(changedDf), Seq(FileCol)).localCheckpoint()
          try {
            val liveCnt = phys.join(broadcast(changedDf), Seq(FileCol))
              .join(broadcast(combined), Seq(FileCol, key), "left_anti")
              .groupBy(col(FileCol)).count().collect()
              .map(r => r.getString(0) -> r.getLong(1)).toMap
            // all new sidecars in ONE partitioned write: integer indices
            // as the partition column (no partition-value escaping
            // concerns), one output file per index by construction
            // (repartition on the partition column puts all of an
            // index's rows in one task)
            val needSidecar = changedBase
              .filter(b => liveCnt.getOrElse(b, 0L) > 0L).zipWithIndex
            val nonce = java.util.UUID.randomUUID().toString.take(8)
            val dvNames = needSidecar.map { case (b, i) =>
              b -> f"dv-${st.version + 1}%010d-$nonce-$i.parquet"
            }.toMap
            if (needSidecar.nonEmpty) withStaging(root, "dv") { tmp =>
              val idxDf = {
                import spark.implicits._
                needSidecar.toDF(FileCol, "_gi")
              }
              combined.join(broadcast(idxDf), Seq(FileCol))
                .select(col(key), col("_gi"))
                .repartition(col("_gi"))
                .write.partitionBy("_gi").mode("overwrite")
                .parquet(tmp.toString)
              needSidecar.foreach { case (b, i) =>
                val part = listDir(tmp.resolve(s"_gi=$i"))
                  .find(_.getFileName.toString.startsWith("part-"))
                  .getOrElse(throw new IllegalStateException(
                    s"TxTable deleteKeysDV: no sidecar part file for $b"))
                Files.move(part, dataDir(root).resolve(dvNames(b)),
                  StandardCopyOption.ATOMIC_MOVE)
              }
            }
            // change-feed materialization (cdc-enabled tables only): the
            // newly-dead FULL rows — the one case where a DV delete
            // reads more than the key column, the documented CDF write
            // cost (Delta pays the same); one multi-file read, one
            // broadcast semi-join on the (file, key) pairs
            val cdc = if (!st.cdcOn) None else {
              val full = withFileTag(scanLogical(spark,
                changedBase.map(b => resolveData(root, byBase(b).name)),
                st.schema, st.colMap))
              writeCdcFiles(
                full.join(broadcast(fresh), Seq(FileCol, key), "left_semi")
                  .drop(FileCol).withColumn("_change_type", lit("delete")),
                root, st)
            }
            val adds = changedBase.flatMap { b =>
              val live = liveCnt.getOrElse(b, 0L)
              if (live == 0L) None // whole file dead: pure remove
              else Some(byBase(b).copy(rows = live, dv = Some(dvNames(b))))
            }
            draft(adds, changedBase.map(byBase(_).name), cdc)
          } finally release(combined)
        }
      } finally release(fresh)
    }

  // ---- change-feed source seams (r18) --------------------------------
  // The DataSourceV2 streaming source (GraftChangeFeed) plans its
  // micro-batches from the SAME log records every other reader uses;
  // these package-private accessors are its window into the log —
  // driver-side metadata reads only, never data.

  /** One commit record, verbatim. Fails loudly when the record was
    * cleaned past the retention horizon — a feed read over a truncated
    * range must not silently skip history (same contract as
    * [[changes]]). */
  private[sources] def commitAt(root: String, v: Long): Commit = {
    val p = logDir(root).resolve(logName(v))
    require(Files.exists(p),
      s"TxTable at $root: commit record v$v was cleaned past the log " +
        "retention horizon — the change feed over this range is gone")
    readJson[Commit](p)
  }

  /** Committed versions in (from, to]. Filename-only, no record reads. */
  private[sources] def logVersionsIn(root: String, from: Long,
                                     to: Long): Seq[Long] =
    logVersions(root).filter(v => v > from && v <= to)

  /** (declared schema, cdcOn, key, logical→physical map) at head — the
    * stream-open metadata. */
  private[sources] def feedMeta(root: String)
      : (StructType, Boolean, String, Map[String, String]) = {
    val st = replayState(root, None)
    (st.schema, st.cdcOn, st.key, st.colMap)
  }

  /** Absolute path of a logged file name under this table's data dir
    * (absolute entry names — clone references — resolve to themselves). */
  private[sources] def resolveData(root: String, name: String): String =
    dataDir(root).resolve(name).toString

  /** Metadata-only statistics of a snapshot. */
  case class TableStats(version: Long, numFiles: Long, numRows: Long,
                        keyMin: Long, keyMax: Long)

  /** Metadata-only table statistics — row count, file count, global key
    * range — answered from the LOG alone (every file entry carries its
    * exact row count and key min/max from the write-time stats pass),
    * never opening a data file: the Delta-style metadata fast path for
    * `count(*)`/`min(key)`/`max(key)`, and the planning input a 100 TB
    * merge/compaction scheduler reads constantly (it cannot afford a
    * data scan to decide what to touch). Exact at every version: merges
    * and deletes REWRITE the files they touch, and a [[deleteKeysDV]]
    * commit re-stamps the touched entries with their exact post-vector
    * live counts, so carried-over entries are always live rows
    * (spec-asserted, including after the data directory is physically
    * removed — the stats path provably reads no data). Key range is
    * exact for integral keys up to DV conservatism (a vectored file
    * keeps its physical range); non-integral keys degrade to the
    * full-range sentinels, the same posture as pruning. */
  def stats(root: String, asOf: Option[Long] = None): TableStats = {
    val v = asOf.getOrElse(currentVersion(root))
    val files = snapshot(root, Some(v))
    require(files.nonEmpty, s"TxTable at $root has no live files at v$v")
    TableStats(v, files.size, files.map(_.rows).sum,
      files.map(_.kmin).min, files.map(_.kmax).max)
  }

  /** Vacuum: physically delete data files that are no longer live in
    * ANY version newer than `keepVersions` back from the head — the
    * retention policy that bounds storage while keeping recent time
    * travel working. A file is deletable iff it is absent from the
    * live set of EVERY retained version (the head and the
    * `keepVersions` before it) AND older than `minAgeMillis` — the age
    * guard protects an in-flight committer, whose staged files land in
    * data/ BEFORE their commit record exists (the crash-safety write
    * order): without it, vacuum fired in that window would classify the
    * winner's files as garbage and the commit would then reference
    * vanished bytes. Pass 0 ONLY when no writer can be concurrent
    * (single-writer test/maintenance windows). Vacuum touches no log
    * records, so the version history stays intact — a time-travel read
    * past the horizon fails loudly on the missing file rather than
    * lying. Returns the deleted file names. */
  def vacuum(root: String, keepVersions: Int = 1,
             minAgeMillis: Long = DefaultVacuumRetentionMillis): Seq[String] = {
    val head = currentVersion(root)
    val horizon = math.max(1L, head - keepVersions)
    // a retained entry's DELETION-VECTOR sidecar is as load-bearing as
    // its data file (r17): reclaiming one would break every DV-aware
    // read of a still-retained version. CDC change files of retained
    // versions are likewise load-bearing for the feed over that range;
    // older ones (and those whose records cleanupLog removed) are
    // reclaimable — a feed read past them fails loudly, the same
    // contract as time travel.
    val cdcRetained = logVersions(root).filter(_ >= horizon).flatMap { v =>
      try readJson[Commit](logDir(root).resolve(logName(v))).cdc
        .getOrElse(Seq.empty)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
    }.toSet
    val retained = (horizon to head)
      .flatMap(v => snapshot(root, Some(v))
        .flatMap(f => f.name +: f.dv.toSeq)).toSet ++ cdcRetained
    val d = dataDir(root)
    val cutoff = System.currentTimeMillis() - minAgeMillis
    val doomed = listDir(d).filter(p =>
      Files.isRegularFile(p) &&
        !retained.contains(p.getFileName.toString) &&
        Files.getLastModifiedTime(p).toMillis <= cutoff)
    doomed.foreach(Files.deleteIfExists(_))
    doomed.map(_.getFileName.toString)
  }

  /** Wall-clock millis a version committed at, from its log record
    * (None for cleaned versions) — the audit surface behind the
    * time-based retention pair below. */
  def commitTimestamp(root: String, v: Long): Option[Long] =
    try Some(readJson[Commit](logDir(root).resolve(logName(v))).ts)
    catch { case scala.util.control.NonFatal(_) => None }

  /** Newest version whose logged commit wall-clock is at or before
    * `cutoffMs` — the version in force AT the cutoff instant, i.e. the
    * retention horizon for "keep everything younger than X". No
    * qualifying version → 1 (retain the whole history). */
  def versionAtOrBefore(root: String, cutoffMs: Long): Long =
    logVersions(root).filter(v => commitTimestamp(root, v).exists(_ <= cutoffMs))
      .lastOption.getOrElse(1L)

  /** TIME-based [[vacuum]] (r18, the r17 verdict's item 7 — Delta's
    * retention horizon in hours): keep every version committed within
    * the last `olderThanMs` milliseconds PLUS the version in force at
    * the horizon instant (so "time travel to exactly 7 days ago" still
    * answers), reclaim data files referenced by nothing newer. The
    * version horizon derives from the commit records' wall-clock
    * stamps; the per-file `minAgeMillis` in-flight-committer guard is
    * unchanged and independent. */
  def vacuumOlderThan(root: String, olderThanMs: Long,
                      minAgeMillis: Long = DefaultVacuumRetentionMillis)
      : Seq[String] =
    vacuum(root, versionsWithin(root, olderThanMs), minAgeMillis)

  /** The time-based retention horizon as a version count: how many
    * versions back from the head the version in force `olderThanMs` ago
    * lies — the `keepVersions` under which [[vacuum]] and [[cleanupLog]]
    * keep every version younger than that plus the one in force at the
    * horizon instant. */
  private def versionsWithin(root: String, olderThanMs: Long): Int =
    (currentVersion(root) -
      versionAtOrBefore(root, System.currentTimeMillis() - olderThanMs)).toInt

  /** TIME-based [[cleanupLog]] (r18): remove commit records and
    * checkpoints no replay within the last `olderThanMs` milliseconds
    * can reach — the log half of the compliance contract
    * [[vacuumOlderThan]] serves for data files. Same checkpoint-floor
    * safety as the version-count form: nothing below the newest
    * checkpoint at-or-below the horizon is ever needed, and nothing
    * above it is touched. */
  def cleanupLogOlderThan(root: String, olderThanMs: Long): Seq[String] =
    cleanupLog(root, versionsWithin(root, olderThanMs))

  /** Refuse a metadata-only column operation when a CHECK invariant
    * mentions the column — the invariant string would silently dangle
    * and explode at the NEXT write, far from the cause. Word-boundary
    * match: conservative (may refuse a column whose name appears as a
    * whole word in an unrelated predicate — rename the invariant
    * first), never permissive. */
  private def requireNoInvariantRef(st: State, column: String,
                                    op: String): Unit = {
    val pat = ("\\b" + java.util.regex.Pattern.quote(column) + "\\b").r
    val refd = st.invariants.collect {
      case (n, p) if pat.findFirstIn(p).isDefined => n }
    require(refd.isEmpty,
      s"TxTable $op: CHECK invariant(s) ${refd.mkString(", ")} reference " +
        s"column '$column' — drop or rewrite the invariant first")
  }

  /** RENAME a column as METADATA ONLY (r18, the r17 verdict's item 6 —
    * Delta's column mapping, name mode): the declared schema's LOGICAL
    * name changes; the PHYSICAL name in every parquet file — past and
    * future — stays what it was at column birth, recorded in the log's
    * logical→physical map. Zero data files are touched (spec: mtime
    * map identical); reads at any version resolve through THAT era's
    * schema+map, so time travel across the rename answers under each
    * era's own name; merges/appends/deletes after the rename speak the
    * new name and write the old physical. The KEY column is refused
    * (it is the table's merge identity, baked into every sidecar and
    * log stat); a column referenced by a CHECK invariant is refused
    * until the invariant is rewritten. Renaming onto a just-vacated
    * logical name is fine — the map keys are logical, the physical
    * slot never moves. */
  def renameColumn(root: String, from: String, to: String): Long =
    occRetry(root, "RENAME_COLUMN", None) { st =>
      val ts = st.schema
      require(from != st.key,
        s"TxTable renameColumn: '$from' is the key column — the merge " +
          "identity cannot be renamed")
      require(ts.fieldNames.contains(from),
        s"TxTable renameColumn: no column '$from'")
      require(!ts.fieldNames.contains(to),
        s"TxTable renameColumn: column '$to' already exists")
      requireNoInvariantRef(st, from, "renameColumn")
      val newTs = StructType(ts.fields.map(f =>
        if (f.name == from) f.copy(name = to) else f))
      // map the new logical to the OLD physical; identity entries drop
      // (rename a→b→a round-trips to an empty map)
      val phys = st.physOf(from)
      val newMap = (st.colMap - from) ++
        (if (phys == to) Map.empty[String, String] else Map(to -> phys))
      val newStats =
        if (!st.statsCols.contains(from)) None
        else Some(st.statsCols.map(c => if (c == from) to else c))
      draft().copy(schema = Some(newTs.json),
        dataChange = Some(false), statsCols = newStats, colMap = Some(newMap))
    }

  /** DROP a column as METADATA ONLY (r18 — the other half of column
    * mapping): the field leaves the declared schema; the bytes stay in
    * every existing file, ignored by reads (scans project through the
    * declared schema). The physical name is RETIRED forever: a later
    * merge that evolves a column of the same name back in is REFUSED —
    * by-name reads of pre-drop files would resurrect the dropped
    * column's stale values under the new column (the r14
    * silent-corruption class; Delta assigns fresh physical ids for the
    * same reason, we refuse reuse outright which is stricter and
    * equally loud). Time travel before the drop still reads the
    * column; the key column and invariant-referenced columns are
    * refused as in [[renameColumn]]. */
  def dropColumn(root: String, name: String): Long =
    occRetry(root, "DROP_COLUMN", None) { st =>
      val ts = st.schema
      require(name != st.key,
        s"TxTable dropColumn: '$name' is the key column")
      require(ts.fieldNames.contains(name),
        s"TxTable dropColumn: no column '$name'")
      require(ts.fields.length > 1,
        s"TxTable dropColumn: '$name' is the only column")
      requireNoInvariantRef(st, name, "dropColumn")
      val newStats =
        if (!st.statsCols.contains(name)) None
        else Some(st.statsCols.filterNot(_ == name))
      draft().copy(
        schema = Some(StructType(ts.fields.filterNot(_.name == name)).json),
        dataChange = Some(false), statsCols = newStats,
        colMap = Some(st.colMap - name),
        retired = Some(st.retired :+ st.physOf(name)))
    }

  /** RESTORE the table to the state of version `asOf`, AS A NEW COMMIT
    * (the Delta RESTORE semantics): the head version's live set is
    * swapped for the target version's — adds re-reference the target's
    * files (immutable, so their logged rows/key-range stats are still
    * exact), removes de-reference everything the head added since.
    * History stays intact: the restore is itself a version, so the
    * "bad" intermediate states remain time-travelable (and auditable —
    * an erasure must NOT be undone this way without noticing: restore
    * resurrects logically, subject to vacuum having kept the bytes; a
    * time-travel read past vacuumed files fails loudly, same contract
    * as read). The target version's SCHEMA (and its declared stats
    * columns) is re-committed when it differs, so a post-widening
    * restore narrows the declared schema back and a restore past a
    * [[dropColumn]] brings the column back with its values. Restoring
    * to a version whose live set AND schema match the head's is a
    * no-op: nothing commits and the head version returns (the
    * [[occRetry]] no-op rule). `key` must be the table's key column.
    *
    * Restore VALIDATES that every target file still physically exists
    * (r15): after `vacuum` has reclaimed the target's bytes, a restore
    * would otherwise commit a HEAD that is unreadable — failing at the
    * next read, far from the cause. Delta's RESTORE fails the restore
    * itself; so does this one, naming the missing files. The check
    * runs inside the OCC attempt so a concurrent vacuum between check
    * and commit is bounded by vacuum's own age guard. */
  def restore(root: String, key: String, asOf: Long): Long =
    occRetry(root, "RESTORE", Some(key)) { head =>
      val target = replayState(root, Some(asOf))
      require(target.live.nonEmpty,
        s"TxTable at $root has no live files at v$asOf")
      // COLUMN MAPPING (r18): a restore across a rename/drop would
      // need to re-commit the target era's logical→physical map
      // atomically with the file swap; refuse loudly for now — the
      // caller re-applies the rename first (physical bytes are
      // era-independent, so no data is at stake, only the mapping)
      require(target.colMap == head.colMap,
        s"TxTable at $root: cannot restore to v$asOf across a column " +
          "rename/drop — re-apply the rename (or re-add the column) " +
          "so the head's column mapping matches the target's first")
      val gone = target.live.flatMap(f => f.name +: f.dv.toSeq)
        .filterNot(n => Files.exists(dataDir(root).resolve(n)))
      require(gone.isEmpty,
        s"TxTable at $root: cannot restore to v$asOf — ${gone.size} of its " +
          s"data file(s) were vacuumed (${gone.take(3).mkString(", ")}" +
          (if (gone.size > 3) ", …" else "") + ")")
      // diff by FULL entry, not name (r17): a DV delete re-stamps the
      // SAME data-file name under a different sidecar, so a name-level
      // diff would silently keep the head's vector (or drop the
      // target's) across the restore — the restored snapshot must
      // carry the target's exact entries, vectors included
      val headByName = head.live.map(f => f.name -> f).toMap
      val targetByName = target.live.map(f => f.name -> f).toMap
      val adds = target.live.filterNot(f => headByName.get(f.name).contains(f))
      val removes = head.live
        .filterNot(f => targetByName.get(f.name).contains(f)).map(_.name)
      draft(adds, removes).copy(
        schema = Option.when(target.schema != head.schema)(target.schema.json),
        statsCols = Option.when(target.statsCols != head.statsCols)(target.statsCols))
    }

  /** Compaction as a commit: rewrite the current live set into at most
    * `numFiles` files, remove the originals — readers before/after see
    * exactly the same rows (spec-asserted), and time travel to the
    * pre-compaction version still works because old files are only
    * DE-REFERENCED, never deleted (vacuum is a separate policy).
    *
    * The rows are laid out by a hash exchange over the whole row, key
    * first. A round-robin exchange (`repartition(n)`) is not
    * deterministic on a retried task, so Spark sorts every input row
    * before it (`spark.sql.execution.sortBeforeRepartition`); a hash
    * exchange needs no sort. Hashing the other columns too keeps the
    * files balanced when one key value repeats. Every file spans the
    * whole key range: [[compactClustered]] is the layout that keeps
    * pruning. Map and variant columns cannot be hashed and are left
    * out of the hash. */
  def compact(spark: SparkSession, root: String, key: String,
              numFiles: Int = 4): Long =
    rewriteAll(spark, root, key, "COMPACT", "compact") { df =>
      import org.apache.spark.sql.types._
      def hashable(dt: DataType): Boolean = dt match {
        case _: MapType | _: VariantType => false
        case a: ArrayType => hashable(a.elementType)
        case st: StructType => st.fields.forall(f => hashable(f.dataType))
        case _ => true
      }
      val cols = (key +: df.columns.toSeq.filterNot(_ == key))
        .filter(c => hashable(df.schema(c).dataType))
      df.repartition(numFiles, cols.map(col): _*)
    }

  /** The one body of the whole-table rewrites ([[compact]],
    * [[compactClustered]], [[compactZOrdered]]): read the attempt's
    * replayed live set, lay it out with `layout`, write it under `tag`
    * and commit it as `op` in place of every live file, dataChange =
    * false so the change feed skips it. */
  private def rewriteAll(spark: SparkSession, root: String, key: String,
                         op: String, tag: String)(
      layout: DataFrame => DataFrame): Long =
    occRetry(root, op, Some(key)) { st =>
      require(st.live.nonEmpty, s"TxTable at $root has no live files")
      val df = layout(readEntries(spark, root, st.live, st.schema, st.key,
        st.colMap))
      draft(writeFiles(spark, df, root, st, st.filePrefix(tag)), st.live.map(_.name))
        .copy(dataChange = Some(false))
    }

  /** CLUSTERED compaction — the pruning-preserving variant (Delta's
    * OPTIMIZE ZORDER, one dimension): plain [[compact]]'s whole-row
    * hash layout makes EVERY output file span the full key range, so
    * the per-file min/max stats that MERGE/point reads prune on go
    * useless the moment a table is compacted — a merge after a plain
    * compaction rewrites everything. Range-partitioning by the key
    * instead gives the output files DISJOINT key ranges (spec-measured:
    * a narrow-key merge after clustered compaction touches one file;
    * after plain compaction it touches all), which is the difference
    * between a merge proportional to touched keys and a merge
    * proportional to the table at 100 TB. Same commit semantics as
    * [[compact]]: rows identical, old files de-referenced. */
  def compactClustered(spark: SparkSession, root: String, key: String,
                       numFiles: Int = 4): Long =
    rewriteAll(spark, root, key, "CLUSTER", "cluster")(
      _.repartitionByRange(numFiles, col(key)).sortWithinPartitions(key))

  /** INCREMENTAL bin-packing compaction (r17 — Delta OPTIMIZE's real
    * form): [[compact]]/[[compactClustered]] rewrite the WHOLE live
    * set, which is exactly the cost a 100 TB maintenance pass cannot
    * pay — production OPTIMIZE rewrites ONLY files smaller than a
    * threshold, bin-packed toward a target size, and leaves the big
    * well-formed files untouched. Selects live files with
    * `rows < smallRows`, sorts them by key range (kmin, then smin) so
    * the packed outputs stay range-ADJACENT (per-file pruning
    * survives — a hash-random packing would give every output the
    * full key span), greedily bins consecutive candidates up to
    * `targetRows`, rewrites each bin into ONE file, and commits every
    * bin atomically (dataChange=false — the change feed skips it, no
    * row changed). A bin of one is left alone (rewriting a lone small
    * file buys nothing); a DV'd small file entering a bin
    * materializes its vector like any rewrite. Returns the current
    * version untouched when no bin forms — the steady state a
    * scheduled OPTIMIZE loop hits between ingest bursts. */
  def compactBinPack(spark: SparkSession, root: String, key: String,
                     smallRows: Long, targetRows: Long): Long =
    occRetry(root, "OPTIMIZE", Some(key)) { st =>
      val small = st.live.filter(_.rows < smallRows)
        .sortBy(f => (f.kmin, f.smin.getOrElse("")))
      val bins = scala.collection.mutable.ArrayBuffer
        .empty[Vector[FileEntry]]
      var bin = Vector.empty[FileEntry]
      var rows = 0L
      small.foreach { f =>
        bin :+= f; rows += f.rows
        if (rows >= targetRows) { bins += bin; bin = Vector.empty; rows = 0L }
      }
      if (bin.size >= 2) bins += bin  // the tail bin still packs
      val packable = bins.filter(_.size >= 2).toSeq
      val adds = packable.zipWithIndex.flatMap { case (b, i) =>
        writeFiles(spark,
          readEntries(spark, root, b, st.schema, key, st.colMap).coalesce(1),
          root, st, st.filePrefix(s"optimize$i"))
      }
      draft(adds, packable.flatten.map(_.name)).copy(dataChange = Some(false))
    }

  /** LOG RETENTION (r17 — Delta's logRetentionDuration, the metadata
    * half of [[vacuum]]): physically delete commit records SUBSUMED by
    * a checkpoint older than the retention horizon, plus the
    * checkpoints older still. A long-lived CDC sink commits per
    * micro-batch forever; checkpointing made REPLAY flat, but the log
    * directory itself grows without bound — every commit lists it
    * (O(history) per commit, O(n²) over a stream's life) and a 100 TB
    * deployment's object-store listing pays per entry. Keeps: every
    * record above `head - keepVersions`, the newest checkpoint at or
    * below the horizon (the replay base), and everything after it.
    * Time travel below the horizon then fails LOUDLY (replayState
    * refuses a truncated-history replay rather than returning a
    * silently partial state); head reads, history() and the change
    * feed over the retained suffix are untouched. Returns deleted
    * file names. Deletes no record or checkpoint until a checkpoint
    * ≤ horizon exists — cleanup never sacrifices replayability.
    *
    * Also reclaims the `.tmp-*.part` files of dead [[publish]] writers:
    * those last modified before the head record was written. Such a
    * writer created its temp file before the head version existed, so
    * it was racing for a version at or below the head and its link can
    * only fail; a late checkpoint writer loses only a best-effort
    * checkpoint. */
  def cleanupLog(root: String, keepVersions: Int): Seq[String] = {
    val head = currentVersion(root)
    val d = logDir(root)
    val deadTemps = if (head == 0L) Seq.empty else {
      val headMtime = Files.getLastModifiedTime(d.resolve(logName(head)))
      // a live writer deletes its own temp file once it links or loses
      listDir(d).filter { p =>
        val n = p.getFileName.toString
        n.startsWith(".tmp-") && n.endsWith(".part") &&
          (try Files.getLastModifiedTime(p).compareTo(headMtime) < 0
           catch { case _: java.nio.file.NoSuchFileException => false })
      }.map(_.getFileName.toString)
    }
    deadTemps.foreach(n => Files.deleteIfExists(d.resolve(n)))
    val horizon = head - keepVersions
    val base = checkpointAtOrBelow(root, horizon).map(_.version).getOrElse {
      return deadTemps
    }
    val doomedRecords = logVersions(root).filter(_ <= base)
      .map(logName)
    val doomedCkpts = listDir(d).map(_.getFileName.toString)
      .filter(_.matches("ckpt-v\\d{10}\\.json"))
      .filter(_.stripPrefix("ckpt-v").stripSuffix(".json").toLong < base)
    val doomed = doomedRecords ++ doomedCkpts
    doomed.foreach(n => Files.deleteIfExists(d.resolve(n)))
    deadTemps ++ doomed
  }

  /** Z-ORDERED compaction — [[compactClustered]]'s TWO-dimension form
    * (Delta's OPTIMIZE ZORDER BY (a, b)), for the table shape the r14
    * verdict named: MERGED on one key, RANGE-READ on another. A
    * one-dimension cluster gives the merge key perfect per-file ranges
    * and leaves the read dimension spanning its full domain in every
    * file; interleaving both along the Morton curve
    * ([[Sources.zOrderCol]]: equal-mass quantile buckets per dimension,
    * then bit-interleave — pure shift/mask column math) makes every
    * output file a z-cell whose bounding box is TIGHT IN BOTH
    * DIMENSIONS at once. The commit's logged key stats then prune
    * merges to the files whose key span intersects (≈√F of F files for
    * a point key instead of all F after plain compaction), while the
    * parquet footer stats prune two-dimensional reads at the scan
    * (q39's measured property, now INSIDE the ACID table). Same commit
    * semantics as [[compact]]: rows identical (spec + oracle), old
    * files de-referenced, dataChange=false so the change feed skips it.
    * The z column is computed, used for layout, and NEVER stored. */
  def compactZOrdered(spark: SparkSession, root: String, key: String,
                      zCol: String, numFiles: Int = 4, bits: Int = 6): Long =
    rewriteAll(spark, root, key, "ZORDER", "zorder") { df =>
      df.withColumn("_graft_z", Sources.zOrderCol(df, key, zCol, bits))
        .repartitionByRange(numFiles, col("_graft_z"))
        .sortWithinPartitions("_graft_z")
        .drop("_graft_z")
    }

  /** DESCRIBE HISTORY — the commit log surfaced as a DataFrame, one row
    * per version: operation kind, files added/removed, exact rows
    * added (from the logged per-file stats — metadata-only, no data
    * file is opened), whether the commit changed the declared schema,
    * whether it changed table DATA (compact/cluster rearrange bytes
    * only), and the idempotence stamp if any. This is the audit
    * surface c66's erasure receipt and q79's restore story point at:
    * "what happened to this table and when" answered from the log
    * alone. */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    logVersions(root).map { v =>
      val c = readJson[Commit](logDir(root).resolve(logName(v)))
      (c.version, c.op,
        c.adds.size, c.removes.size, c.adds.map(_.rows).sum,
        c.schema.isDefined,
        c.dataChange.getOrElse(true),
        c.txn.map(_.appId), c.txn.map(_.version))
    }.toDF("version", "op", "n_added_files", "n_removed_files",
      "rows_added", "schema_changed", "data_change", "txn_app", "txn_version")
  }

  /** CHANGE DATA FEED — what changed between two versions, emitted as
    * rows with a change type (Delta's `table_changes(v1, v2)`): the
    * incremental-consumer contract that lets downstream index
    * maintenance, cache invalidation or d19-style affected-cluster
    * repair run ∝ the delta instead of re-diffing snapshots. Emits the
    * commits v with `fromVersion < v <= toVersion`, each stamped
    * `_commit_version`, classified per key:
    *
    *  - key only in the commit's ADDED files        → `insert`
    *  - key only in the files it REMOVED            → `delete`
    *  - in both with different values → `update_preimage` (old row) +
    *    `update_postimage` (new row)
    *  - in both, values identical → NOT emitted (a rewritten file
    *    carries untouched neighbors of the actually-changed keys —
    *    they are physical movement, not change)
    *
    * Work ∝ the files each data-changing commit actually rewrote (the
    * add/remove lists), never the table: compact/cluster commits are
    * stamped dataChange=false and SKIPPED without reading a byte —
    * they move every row, change none. All reads go through the
    * declared schema at `toVersion` (by-name: pre-widening files
    * surface later columns as null), so one widened output schema
    * covers the whole range. Requires the range's data files to still
    * exist — a feed past vacuumed files fails loudly, same contract as
    * time travel. */
  def changes(spark: SparkSession, root: String,
              fromVersion: Long, toVersion: Long): DataFrame = {
    require(toVersion > fromVersion,
      s"TxTable changes: need fromVersion < toVersion, got $fromVersion, $toVersion")
    val stTo = replayState(root, Some(toVersion))
    val outSchema = stTo.schema
    // one incremental walk: the live map at fromVersion, advanced per
    // commit, resolves remove NAMES to the file ENTRIES they replace —
    // entries, not names, so each side reads with ITS OWN deletion
    // vector applied (r17): a DV-delete commit re-adds the same data
    // file under a fatter sidecar, and the pre/post diff below then
    // classifies exactly the newly-vectored keys as deletes without
    // reading anything but that file
    val st0 = replayState(root, Some(fromVersion))
    val live = scala.collection.mutable.LinkedHashMap(
      st0.live.map(f => f.name -> f): _*)
    val steps = logVersions(root)
      .filter(v => v > fromVersion && v <= toVersion).map { v =>
        val c = readJson[Commit](logDir(root).resolve(logName(v)))
        val pre = c.removes.flatMap(live.get)
        c.removes.foreach(live.remove)
        c.adds.foreach(a => live.update(a.name, a))
        (v, c.key, pre, c.adds, c.dataChange.getOrElse(true), c.cdc)
      }
    val frames = steps.filter(_._5).flatMap { case (v, key, pre, post, _, cdc) =>
      def rdE(entries: Seq[FileEntry]): DataFrame =
        readEntries(spark, root, entries, outSchema, key, stTo.colMap)
      def tagged(df: DataFrame, tpe: String): DataFrame =
        df.withColumn("_change_type", lit(tpe))
          .withColumn("_commit_version", lit(v))
      // MATERIALIZED change files (r17, cdc-enabled tables): the
      // commit wrote its own change rows, so serve them directly —
      // work ∝ changed rows, no pre/post re-read, no diff join; the
      // diff replay below remains the fallback for commits (and
      // whole tables) without them
      cdc match {
        case Some(names) =>
          // change files store PHYSICAL names (column mapping): read
          // under the toVersion logical names
          Seq(scanLogical(spark, names.map(resolveData(root, _)), outSchema,
              stTo.colMap, Seq(StructField("_change_type",
                org.apache.spark.sql.types.StringType)))
            .withColumn("_commit_version", lit(v)))
        case None => (pre.nonEmpty, post.nonEmpty) match {
        case (false, false) => Seq.empty
        case (false, true) => Seq(tagged(rdE(post), "insert"))
        case (true, false) => Seq(tagged(rdE(pre), "delete"))
        case (true, true) =>
          val preDf = rdE(pre)
          val cols = preDf.columns.toSeq
          val p = preDf.select(col(key).as("_k"),
            struct(cols.map(col): _*).as("_pre"))
          val q = rdE(post).select(col(key).as("_k"),
            struct(cols.map(col): _*).as("_post"))
          // null-safe key match: a (degenerate) null-keyed row carried
          // through a rewrite must classify as unchanged, not as a
          // spurious delete+insert pair
          val j = p.join(q, p("_k") <=> q("_k"), "full_outer")
          Seq(
            tagged(j.filter(col("_post").isNull).select(col("_pre.*")), "delete"),
            tagged(j.filter(col("_pre").isNull).select(col("_post.*")), "insert"),
            tagged(j.filter(col("_pre").isNotNull && col("_post").isNotNull &&
              !(col("_pre") <=> col("_post")))
              .select(col("_pre.*")), "update_preimage"),
            tagged(j.filter(col("_pre").isNotNull && col("_post").isNotNull &&
              !(col("_pre") <=> col("_post")))
              .select(col("_post.*")), "update_postimage"))
        }
      }
    }
    frames.reduceOption(_.unionByName(_)).getOrElse {
      val full = StructType(outSchema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("_commit_version",
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], full)
    }
  }
}
