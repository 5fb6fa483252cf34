package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.{Failed, Outcome}
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{StreamDrivers, StreamOps}
import graft.operators.{Dedup, Relational, TimeJoins}
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite with SharedSpark {

  /** After each test: no streaming query may still be running. A stuck
    * query keeps committing over the next test's session and files, so
    * it is stopped and the test that left it fails. */
  override def withFixture(test: NoArgTest): Outcome = {
    val outcome = super.withFixture(test)
    val active = spark.streams.active
    active.foreach(_.stop())
    if (active.nonEmpty && outcome.isSucceeded)
      Failed(s"${active.length} streaming queries left active")
    else outcome
  }

  /** Drivers' results as row sets. */
  private def rowSet(df: DataFrame, cols: String*): Set[List[Any]] =
    df.select(cols.map(col): _*).collect().map(_.toSeq.toList).toSet

  /** Run `body` and return the persistent RDDs it left, unpersisting
    * them so the next test starts clean. */
  private def persistedBy(body: => Unit): Set[Int] = {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    body
    val added = sc.getPersistentRDDs.keySet.toSet -- before
    added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
    added
  }

  private def eventData(): Seq[StreamOps.Ev] =
    table("events").select("event_id", "ts", "user_id", "event_type", "value")
      .collect().toSeq.map(r => StreamOps.Ev(r.getLong(0), r.getTimestamp(1),
        r.getLong(2), r.getString(3), r.getDouble(4)))

  test("streaming tumbling window agrees with the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Ev]
    mem.addData(eventData())
    val q = StreamOps.tumblingCounts(mem.toDF()).writeStream
      .format("memory").queryName("tumbling_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling_out")
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = TimeJoins.tumblingWindow(table("events"))
      .select("window_start", "event_type", "n", "sum_value")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch) // including exact decimal-path sums
  }

  test("streaming sliding window agrees with the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Ev]
    mem.addData(eventData())
    val q = StreamOps.slidingCounts(mem.toDF()).writeStream
      .format("memory").queryName("sliding_out").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sliding_out")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    val batch = TimeJoins.slidingWindow(table("events"))
      .select("window_start", "event_type", "n")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("stateful streaming sessionization agrees with batch on closed sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Ev]
    mem.addData(eventData())
    val q = StreamOps.sessionize(spark, mem.toDS()).writeStream
      .format("memory").queryName("session_out").outputMode("append").start()
    q.processAllAvailable()
    // advance the watermark past every session's timeout: sentinel must
    // clear the 2h watermark delay PLUS the 30min gap timeout
    val last = eventData().map(_.ts.getTime).max
    mem.addData(StreamOps.Ev(-1L, new Timestamp(last + (7200L + 1800 + 60) * 1000), 999999L, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("session_out")
      .filter(col("user_id") =!= 999999L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val batch = TimeJoins.sessionize(table("events"))
      .collect().map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_start"),
        r.getAs[Long]("n_events").toInt)).toSet
    assert(streamed === batch)
  }

  test("sessionization folds cross-batch out-of-order events into event-time sessions") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L // arbitrary fixed epoch ms
    def ev(id: Long, offSec: Long) =
      StreamOps.Ev(id, new Timestamp(t0 + offSec * 1000), 1L, "view", 1.0)
    val mem = MemoryStream[StreamOps.Ev]
    val q = StreamOps.sessionize(spark, mem.toDS()).writeStream
      .format("memory").queryName("session_ooo").outputMode("append").start()
    // newest-first delivery: ids 2,4 land a batch before the EARLIER ids 1,3
    mem.addData(ev(2, 600), ev(4, 2000)); q.processAllAvailable()
    mem.addData(ev(1, 0), ev(3, 1200)); q.processAllAvailable()
    mem.addData(StreamOps.Ev(-1L, new Timestamp(t0 + (7200L + 1800 + 2000 + 60) * 1000),
      999999L, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("session_ooo").filter(col("user_id") === 1L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // event-time order: gaps 600/600/800 ≤ 1800 → ONE session from t0 with 4 events
    assert(got === Set((1L, t0 / 1000, 4)))
  }

  test("streaming native session_window: cross-batch merge keeps the inclusive gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, user: Long, offSec: Long) =
      StreamOps.Ev(id, new Timestamp(t0 + offSec * 1000), user, "view", 1.0)
    val mem = MemoryStream[StreamOps.Ev]
    val q = TimeJoins.sessionWindowAgg(
        mem.toDF().select(col("user_id"), col("value"),
            date_trunc("second", col("ts")).as("tsec"))
          .withWatermark("tsec", "2 hours"))
      .writeStream.format("memory").queryName("session_native_stream")
      .outputMode("append").start()
    // batch 1: both users' openers; batch 2: user 1 exactly AT the gap
    // (must merge across the micro-batch boundary — engine-held state),
    // user 2 one second PAST it (must split)
    mem.addData(ev(1, 1, 0), ev(2, 2, 0)); q.processAllAvailable()
    mem.addData(ev(3, 1, 1800), ev(4, 2, 1801)); q.processAllAvailable()
    mem.addData(StreamOps.Ev(-1L, new Timestamp(t0 + (7200L + 1800 + 1801 + 60) * 1000),
      999999L, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("session_native_stream").filter(col("user_id") =!= 999999L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === Set(
      (1L, t0 / 1000, 2L),                  // merged: diff == gap, one session
      (2L, t0 / 1000, 1L),                  // split: diff == gap + 1
      (2L, t0 / 1000 + 1801, 1L)))
  }

  test("stream-stream interval join agrees with the batch equivalent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = eventData().filter(_.event_type == "purchase")
    val signups = eventData().filter(_.event_type == "signup")
    val memL = MemoryStream[StreamOps.Ev]; val memR = MemoryStream[StreamOps.Ev]
    memL.addData(purchases); memR.addData(signups)
    val q = StreamOps.intervalJoin(memL.toDF(), memR.toDF()).writeStream
      .format("memory").queryName("ssjoin_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ssjoin_out")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val l = purchases.toDF().alias("l"); val r = signups.toDF().alias("r")
    val batch = l.join(r, expr("l.user_id = r.user_id AND " +
        "r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts AND l.event_id != r.event_id"))
      .select(col("l.event_id"), col("r.event_id"))
      .collect().map(r2 => (r2.getLong(0), r2.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("tumbling window drops events later than the watermark (update mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, offSec: Long) =
      StreamOps.Ev(id, new Timestamp(t0 + offSec * 1000), 1L, "view", 1.0)
    val mem = MemoryStream[StreamOps.Ev]
    val q = StreamOps.tumblingCounts(mem.toDF()).writeStream
      .format("memory").queryName("wm_drop").outputMode("update").start()
    mem.addData(ev(1, 4 * 3600)); q.processAllAvailable() // watermark → t0+2h
    mem.addData(ev(2, 0)); q.processAllAvailable()        // t0 < watermark: dropped
    q.stop()
    val windows = spark.table("wm_drop").collect().map(_.getString(0)).toSet
    val t0Window = java.time.Instant.ofEpochMilli(t0).toString.take(13).replace("T", " ") + ":00:00"
    assert(!windows.contains(t0Window), s"late event not dropped: $windows")
    assert(windows.nonEmpty)
  }

  test("late-audit: watermark LAG means a 2-batch stream drops nothing; sealed windows drop all") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val t0 = 1700000000000L
    def ev(id: Long, offSec: Long) =
      StreamOps.Ev(id, new Timestamp(t0 + offSec * 1000), 1L, "view", 1.0)
    // phase 1: on-time batch, then a LATE row in the very next batch —
    // the wm used by batch 2 comes from batch 1, but the t0-window is
    // not yet finalized when the late row is absorbed, so it MERGES
    // (the lag behavior that forced st35's three-phase design)
    val m1 = MemoryStream[StreamOps.Ev]
    val q1 = StreamOps.lateAuditCounts(m1.toDF()).writeStream
      .format("memory").queryName("la_merge").outputMode("complete").start()
    m1.addData(ev(1, 0), ev(2, 4 * 3600)); q1.processAllAvailable()
    m1.addData(ev(3, 10)); q1.processAllAvailable() // late vs wm, window open
    q1.stop()
    val merged = spark.table("la_merge").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val w0 = java.time.Instant.ofEpochMilli(t0).toString.take(13).replace("T", " ") + ":00:00"
    assert(merged(w0) === 2L, s"late-but-unsealed row must merge: $merged")
    // phase 2: after a sealing batch advances the watermark past the
    // window, the same late row is DROPPED (append semantics) — the
    // st35 gate's contract
    val m2 = MemoryStream[StreamOps.Ev]
    val q2 = StreamOps.lateAuditCounts(m2.toDF()).writeStream
      .format("memory").queryName("la_drop").outputMode("append").start()
    m2.addData(ev(1, 0)); q2.processAllAvailable()
    m2.addData(ev(2, 4 * 3600)); q2.processAllAvailable() // seals the t0 window
    m2.addData(ev(3, 10)); q2.processAllAvailable()       // evicted window: dropped
    q2.stop()
    val out = spark.table("la_drop").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out(w0) === 1L, s"sealed-window late row must drop: $out")
  }

  test("streaming latest-state agrees with the batch latestEvent") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val evs = eventData()
    val (b1, b2) = evs.splitAt(evs.length / 2)
    val mem = MemoryStream[StreamOps.Ev]
    val q = StreamOps.latestState(spark, mem.toDS()).writeStream
      .format("memory").queryName("latest_out").outputMode("update").start()
    mem.addData(b2); q.processAllAvailable() // second half first: order-robust
    mem.addData(b1); q.processAllAvailable(); q.stop()
    // final state per user = max over the update stream's emitted rows
    val streamed = spark.table("latest_out").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .groupBy(_._1).map { case (_, rows) => rows.maxBy(x => (x._4, x._2)) }.toSet
    val batch = Relational.latestEvent(table("events")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[String]("last_type"), r.getAs[Long]("last_sec"),
        r.getAs[Double]("last_value"))).toSet
    assert(streamed === batch)
  }

  test("file readStream → watermarked agg → checkpointed parquet writeStream") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = tempDir("graft-stream").toString
    val (in, out, chk) = (s"$dir/in", s"$dir/out", s"$dir/chk")
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType)))
    val evs = eventData().take(200)
    evs.toDF().write.mode("overwrite").parquet(in)
    val q = StreamOps.tumblingCounts(
        graft.sources.Sources.streamParquet(spark, in, schema))
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", chk)
      .outputMode("append").start()
    q.processAllAvailable()
    // append mode emits a window only once the watermark passes it — a
    // far-future sentinel file seals every real window
    val last = evs.map(_.ts.getTime).max
    Seq(StreamOps.Ev(-1L, new Timestamp(last + 86400L * 1000), 999999L, "view", 0.0))
      .toDF().write.mode("append").parquet(in)
    q.processAllAvailable(); q.stop()
    val streamed = spark.read.parquet(out)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = TimeJoins.tumblingWindow(evs.toDF())
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st3 driver: file-sourced stateful sessionization equals the batch result") {
    val streamed = graft.streaming.StreamDrivers
      .sessionizeFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = TimeJoins.sessionize(table("events")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("session_start"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st31 driver: memory-sourced sessionization equals the batch result") {
    // the source-agnosticism gate: identical stateful logic, broker-
    // shaped arrival (rows-as-records, no files) — must land on the
    // exact batch result like the file twin above
    val streamed = graft.streaming.StreamDrivers
      .sessionizeMemoryStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = TimeJoins.sessionize(table("events")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("session_id"),
        r.getAs[Long]("session_start"), r.getAs[Long]("n_events"),
        r.getAs[Double]("sum_value"))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st4 driver: file-sourced latest-state equals the batch result") {
    val streamed = graft.streaming.StreamDrivers
      .latestStateFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3), r.getDouble(4)))
      .toSet
    val batch = Relational.latestEvent(table("events")).collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("last_event_id"),
        r.getAs[String]("last_type"), r.getAs[Long]("last_sec"),
        r.getAs[Double]("last_value"))).toSet
    assert(streamed === batch)
  }

  test("st5 driver: file-sourced stream-stream interval join equals the batch join") {
    val streamed = graft.streaming.StreamDrivers
      .intervalJoinFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    import spark.implicits._
    val evs = eventData()
    val l = evs.filter(_.event_type == "purchase").toDF().alias("l")
    val r = evs.filter(_.event_type == "signup").toDF().alias("r")
    val batch = l.join(r, expr("l.user_id = r.user_id AND " +
        "r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts AND l.event_id != r.event_id"))
      .select(col("l.event_id"), col("r.event_id"), col("l.user_id"))
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getLong(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st7 driver: file-sourced windowed aggregation equals the batch result") {
    val streamed = graft.streaming.StreamDrivers
      .tumblingFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet
    val batch = TimeJoins.tumblingWindow(table("events")).collect()
      .map(r => (r.getAs[String]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st13 driver: streamed quality gate equals the batch c24 result") {
    val streamed = SparkEntry.queries("st13_quality_stream")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(7))).toSet
    val batch = SparkEntry.queries("c24_quality_rules")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(7))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty && batch.exists(_._3 == 0) && batch.exists(_._3 == 1))
  }

  test("st23 driver: streamed compression gate equals the batch c47 result") {
    val cols = (r: org.apache.spark.sql.Row) =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("raw_len"),
        r.getAs[Long]("comp_len"), r.getAs[Double]("ratio"),
        r.getAs[Int]("kept"))
    val streamed = SparkEntry.queries("st23_compression_stream")(spark, SharedSpark.sfDir)
      .collect().map(cols).toSet
    val batch = SparkEntry.queries("c47_compression_gate")(spark, SharedSpark.sfDir)
      .collect().map(cols).toSet
    assert(streamed === batch)
    // non-vacuous: both planted tails are cut, prose is kept
    assert(batch.exists(_._5 == 0) && batch.exists(_._5 == 1))
  }

  test("st24 driver: streamed license filter equals the batch doc-level gate") {
    val streamed = SparkEntry.queries("st24_license_stream")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    val batch = graft.operators.Curation.licenseFilter(
        SparkEntry.plantGovernance(
          graft.Tables.load(spark, SharedSpark.sfDir, "documents")))
      .select(col("doc_id"), col("source"), col("license"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSet
    assert(streamed === batch)
    // non-vacuous: the stream dropped reserved/unknown/opt-out docs
    assert(batch.nonEmpty && streamed.size < graft.Tables
      .load(spark, SharedSpark.sfDir, "documents").count())
  }

  test("stream harness: a failing micro-batch propagates, stops its query and deletes the run dir") {
    var dir: java.nio.file.Path = null
    val err = intercept[Exception] {
      StreamDrivers.withRun(spark, "boom") { run =>
        dir = run.dir
        run.stage("in", table("events").limit(10))
        // the failing query dies on its own; the healthy one beside it
        // keeps running until the harness stops it
        run.start(run.source("in")) { (_, _) =>
          throw new IllegalStateException("micro-batch boom")
        }
        run.collecting(run.source("in"))
        run.drain()
      }
    }
    assert(Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      .exists(_.getMessage == "micro-batch boom"), err)
    assert(spark.streams.active.isEmpty, "the failed run left a query active")
    assert(dir != null && !java.nio.file.Files.exists(dir), s"$dir survived the run")
  }

  test("st32's TxTable sink lands on st11's driver-side CDC apply") {
    val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice")
    val st11 = rowSet(StreamDrivers.cdcFileStream(spark, SharedSpark.sfDir), cols: _*)
    var st32: Set[List[Any]] = null
    persistedBy { st32 = rowSet(StreamDrivers.cdcTxSinkStream(spark, SharedSpark.sfDir), cols: _*) }
    assert(st11.nonEmpty && st32 === st11)
  }

  test("st37's txn-guarded, re-delivered MV equals st34's") {
    val cols = Seq("ym", "revenue", "n_orders")
    var st34, st37: Set[List[Any]] = null
    persistedBy {
      st34 = rowSet(StreamDrivers.matviewFileStream(spark, SharedSpark.sfDir), cols: _*)
      st37 = rowSet(StreamDrivers.matviewIdempotentFileStream(spark, SharedSpark.sfDir), cols: _*)
    }
    assert(st34.nonEmpty && st37 === st34)
  }

  test("st44's merge-on-read erasure report equals st38's") {
    val cols = Seq("source", "n_before", "n_revoked", "n_after", "chars_after")
    var st38, st44: Set[List[Any]] = null
    persistedBy {
      st38 = rowSet(StreamDrivers.erasureFileStream(spark, SharedSpark.sfDir), cols: _*)
      st44 = rowSet(StreamDrivers.erasureDvFileStream(spark, SharedSpark.sfDir), cols: _*)
    }
    assert(st38.nonEmpty && st44 === st38)
    // non-vacuous: the revocations removed rows
    assert(st38.exists(_(2).asInstanceOf[Long] > 0L))
  }

  test("st43 driver: the change-feed subscriber runs all its windows and returns rows") {
    var n = 0L
    persistedBy { n = StreamDrivers.changeFeedStream(spark, SharedSpark.sfDir).count() }
    assert(n > 0)
  }

  test("probe-and-append drivers release every round they stage") {
    Seq[(String, (SparkSession, String) => DataFrame)](
      "st14" -> StreamDrivers.minhashIngestFileStream,
      "st18" -> StreamDrivers.phashIngestFileStream,
      "st22" -> StreamDrivers.embedIngestFileStream,
      "st33" -> StreamDrivers.chunkIngestFileStream,
      "st36" -> StreamDrivers.prefixIngestFileStream).foreach { case (key, driver) =>
      var n = 0L
      val left = persistedBy { n = driver(spark, SharedSpark.sfDir).count() }
      assert(left.isEmpty, s"$key left ${left.size} persisted RDDs")
      assert(n > 0, s"$key returned no rows")
    }
  }

  test("st44 driver releases the aggregates it staged: only its result stays persisted") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = graft.streaming.StreamDrivers.erasureDvFileStream(spark, SharedSpark.sfDir)
    val added = sc.getPersistentRDDs.keySet -- before
    try {
      assert(added.size <= 1, s"st44 left ${added.size} persisted RDDs")
      assert(out.count() > 0)
    } finally added.foreach(id => sc.getPersistentRDDs.get(id).foreach(_.unpersist()))
  }

  test("st15 driver: streamed contamination gate equals the batch c12 result") {
    val streamed = SparkEntry.queries("st15_contamination_stream")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("c12_contamination")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    // non-vacuous: the benchmark docs themselves are fully contaminated
    assert(batch.exists(t => t._3 > 0L))
  }

  test("st16 driver: streamed perplexity gate equals the batch c27 result") {
    val streamed = SparkEntry.queries("st16_perplexity_stream")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val batch = SparkEntry.queries("c27_perplexity_gate")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed === batch)
    // non-vacuous: the gate separates docs (both outcomes present)
    assert(batch.exists(_._4 == 1) && batch.exists(_._4 == 0))
  }

  test("st19 driver: streamed URL gate equals the batch c33 result") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, SharedSpark.sfDir).collect()
        .map(r => (r.getLong(0), r.getString(3), r.getInt(4), r.getInt(7))).toSet
    val streamed = rows("st19_url_stream")
    val batch = rows("c33_url_gate")
    assert(streamed === batch)
    // non-vacuous: blocked, capped-out and kept docs all present
    assert(batch.exists(_._3 == 1) && batch.exists(t => t._3 == 0 && t._4 == 0)
      && batch.exists(_._4 == 1))
  }

  test("st20 driver: streamed paragraph gate equals the batch c32 result") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, SharedSpark.sfDir).collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3))).toSet
    val streamed = rows("st20_paragraph_stream")
    val batch = rows("c32_paragraph_gate")
    assert(streamed === batch)
    // non-vacuous: some paragraph was dropped somewhere
    assert(batch.exists(t => t._3 < t._2))
  }

  test("st27 driver: streamed main-content gate equals the batch c53 result") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, SharedSpark.sfDir).collect()
        .map(_.toSeq.toList).toSet
    val streamed = rows("st27_content_stream")
    val batch = rows("c53_main_content")
    assert(streamed === batch)
    // non-vacuous: both drop reasons fire somewhere in the corpus
    assert(batch.exists(r => r(4).asInstanceOf[Long] > 0L) &&
      batch.exists(r => r(5).asInstanceOf[Long] > 0L))
  }

  test("st29 driver: streamed badwords gate equals the batch c59 result") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, SharedSpark.sfDir).collect()
        .map(_.toSeq.toList).toSet
    val streamed = rows("st29_badwords_stream")
    val batch = rows("c59_badwords_gate")
    assert(streamed === batch)
    // non-vacuous: both gate outcomes present
    assert(batch.exists(r => r(4).asInstanceOf[Int] === 0) &&
      batch.exists(r => r(4).asInstanceOf[Int] === 1))
  }

  test("st30 driver: streamed charset sniff equals the batch m20 result") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, SharedSpark.sfDir).collect()
        .map(_.toSeq.toList).toSet
    val streamed = rows("st30_charset_stream")
    val batch = rows("m20_charset_sniff")
    assert(streamed === batch)
    // non-vacuous: BOM'd, valid and invalid payloads all present
    val boms = batch.map(r => r(1).asInstanceOf[String])
    assert(boms.contains("utf8-bom") && boms.contains("utf16le"))
    assert(batch.exists(r => r(2).asInstanceOf[Int] === 0))
  }

  test("st28 driver: streamed drift monitor equals the batch s20 table") {
    def rows(name: String) =
      SparkEntry.queries(name)(spark, SharedSpark.sfDir).collect()
        .map(_.toSeq.toList).toSet
    val streamed = rows("st28_drift_stream")
    val batch = rows("s20_drift")
    assert(streamed === batch)
    assert(batch.size === 8, "cell spine incomplete")
  }

  test("st22 driver: streamed embedding ingest equals the batch d13 recompute") {
    import org.apache.spark.sql.functions._
    val streamed = SparkEntry.queries("st22_embed_stream")(spark, SharedSpark.sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val emb = graft.Tables.load(spark, SharedSpark.sfDir, "embeddings")
    val batch = graft.operators.Dedup.embeddingLshIncremental(
        emb.filter(pmod(col("vec_id"), lit(2)) === 0),
        graft.operators.Dedup.embeddingSignCodes(
          emb.filter(pmod(col("vec_id"), lit(2)) === 1)))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty, "vacuous corpus: no near-dup pairs to stream")
  }

  test("st21 driver: streamed line gate equals the batch frozen-artifact run") {
    import org.apache.spark.sql.functions._
    val aug = SparkEntry.plantParagraphs(
      graft.Tables.load(spark, SharedSpark.sfDir, "documents"))
    val corpus = graft.operators.Curation.allLineCounts(
      aug.filter(pmod(col("doc_id"), lit(2)) === 1))
    def asSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    val streamed = asSet(
      SparkEntry.queries("st21_line_stream")(spark, SharedSpark.sfDir))
    val batch = asSet(graft.operators.Curation.lineScrubAgainst(
      aug.filter(pmod(col("doc_id"), lit(2)) === 0), corpus))
    assert(streamed === batch)
    // non-vacuous: planted paragraphs were cut somewhere, others survive
    assert(batch.exists(_._4 > 0) && batch.exists(_._4 === 0))
  }

  test("frozen line gate vs incremental dedup: exactly the within-batch clause apart") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // "shared" lives in the corpus; "batchdup" repeats ONLY within the
    // batch — the frozen gate must keep it, the incremental dedup cut it
    val corpusDocs = Seq((1L, "shared\nunique corpus line")).toDF("doc_id", "text")
    val batch = Seq(
      (2L, "shared\nbatchdup\nown line two"),
      (4L, "batchdup\nown line four")).toDF("doc_id", "text")
    val lines = graft.operators.Curation.allLineCounts(corpusDocs)
    val frozen = graft.operators.Curation.lineScrubAgainst(batch, lines)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val incr = graft.operators.Curation.lineDedupIncremental(batch, lines)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(frozen === Map(2L -> "batchdup\nown line two",
      4L -> "batchdup\nown line four"))
    assert(incr === Map(2L -> "own line two", 4L -> "own line four"))
  }

  test("st17 driver: streamed classifier gate equals the batch c30 result") {
    val docs = graft.Tables.load(spark, SharedSpark.sfDir, "documents")
    val w = graft.operators.QualityModel.fit(docs)
    val streamed = graft.streaming.StreamDrivers
      .classifierFileStream(spark, SharedSpark.sfDir, w).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    val batch = graft.operators.QualityModel.score(docs, w).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getInt(3))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st14 driver: streamed near-dup ingest equals the batch d11 recompute") {
    val streamed = graft.streaming.StreamDrivers
      .minhashIngestFileStream(spark, SharedSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // batch recompute: minhashIncremental over the WHOLE even half at
    // once — the streamed union of per-micro-batch probes must equal it
    val docs = table("documents").select(col("doc_id"), col("text"))
    val corpusSigs = Dedup
      .minhashSignatures(docs.filter(pmod(col("doc_id"), lit(2)) === 1))
      .localCheckpoint()
    val batch = Dedup
      .minhashIncremental(docs.filter(pmod(col("doc_id"), lit(2)) === 0), corpusSigs)
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jacc"))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // genuinely cross-micro-batch content: at least one pair whose docs
    // landed in DIFFERENT halves of the streamed batch split (%4 = 0 vs
    // %4 = 2) — the pair only a post-probe signature append can find
    assert(streamed.exists { case (a, b, _) =>
      (a % 2 == 0 && b % 2 == 0) && (a % 4 != b % 4) })
  }

  test("st18 driver: streamed visual ingest equals the batch d23 recompute") {
    val streamed = graft.streaming.StreamDrivers
      .phashIngestFileStream(spark, SharedSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // batch recompute: phashIncremental over the WHOLE batch tier at once
    val ph = graft.operators.Multimodal
      .imagePhash(spark, table("documents")).localCheckpoint()
    val batch = graft.operators.Multimodal
      .phashIncremental(
        ph.filter(pmod(col("doc_id"), lit(32)) === 16),
        ph.filter(pmod(col("doc_id"), lit(32)) === 0))
      .collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Int]("hamming"))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
    // genuinely cross-micro-batch content: a pair whose docs landed in
    // different streamed halves (%64 = 0 vs %64 = 32) — only the
    // post-probe phash-state append can find it
    assert(streamed.exists { case (a, b, _) =>
      (a % 32 == 0 && b % 32 == 0) && (a % 64 != b % 64) })
  }

  test("st11 driver: streamed CDC apply equals the batch q44 result") {
    val streamed = graft.streaming.StreamDrivers
      .cdcFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    val batch = SparkEntry.queries("q44_cdc_apply")(spark, SharedSpark.sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st10 driver: streamed daily sketch table rolls up equal to batch c16") {
    val streamed = graft.streaming.StreamDrivers
      .sketchRollupFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    // sparse regime at test scale: the streamed daily sketches hold the
    // same coupon state as batch-built ones, so the merged rollup is
    // EQUAL, not merely close
    val batch = graft.operators.Curation.sketchRollup(table("events")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
    assert(batch.nonEmpty)
  }

  test("st6 driver: dedup of a cross-batch-duplicated source equals the events table") {
    val streamed = graft.streaming.StreamDrivers
      .dedupFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
    // exactly once per event, despite every event arriving twice
    assert(streamed.map(_._1).distinct.length === streamed.length)
    val batch = table("events")
      .select(col("event_id"), col("ts").cast("long"), col("user_id"),
        col("event_type"), col("value")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3), r.getDouble(4)))
      .toSet
    assert(streamed.toSet === batch)
    assert(batch.nonEmpty)
  }

  test("st8 driver: left-outer interval join equals the batch left join") {
    val streamed = graft.streaming.StreamDrivers
      .intervalJoinOuterFileStream(spark, "/root/testdata/sf0.001").collect()
      .map(r => (r.getLong(0),
        if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2))).toSet
    import spark.implicits._
    val evs = eventData()
    val l = evs.filter(_.event_type == "purchase").toDF().alias("l")
    val r = evs.filter(_.event_type == "signup").toDF().alias("r")
    val batch = l.join(r, expr("l.user_id = r.user_id AND " +
        "r.ts BETWEEN l.ts - INTERVAL 1 HOUR AND l.ts AND l.event_id != r.event_id"),
        "left")
      .select(col("l.event_id"), col("r.event_id"), col("l.user_id"))
      .collect()
      .map(x => (x.getLong(0),
        if (x.isNullAt(1)) None else Some(x.getLong(1)), x.getLong(2))).toSet
    assert(streamed === batch)
    // the outer path must actually be exercised: unmatched purchases
    // null-emit via watermark eviction, never silently vanish
    assert(batch.exists(_._2.isEmpty), "corpus has no unmatched purchase — outer path untested")
    assert(batch.exists(_._2.nonEmpty))
  }

  test("FileStreamSource ingests a staged directory whose mtimes are all years old") {
    // The MtimeStamper regime (StreamDrivers) stamps every staged file
    // with fixed 2020-era mtimes, relying on FileStreamSource's
    // maxFileAge purge being relative to the newest mtime SEEN — not the
    // wall clock. A Spark upgrade changing that purge semantics would
    // silently drop every stamped file from every streaming gate; this
    // spec makes it fail loudly instead.
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val dir = tempDir("graft-stale")
    try {
      val in = s"$dir/in"
      val evs = eventData().take(50)
      Seq(evs.take(25), evs.drop(25)).zipWithIndex.foreach { case (half, i) =>
        half.toDF().coalesce(1).write
          .mode(if (i == 0) "overwrite" else "append").parquet(in)
      }
      // stamp every part file with a ~2020 mtime, strictly increasing in
      // name order — exactly what MtimeStamper does
      import scala.jdk.CollectionConverters._
      val listing = Files.list(Paths.get(in))
      val parts = try listing.iterator().asScala.toSeq finally listing.close()
      parts.filter(_.getFileName.toString.startsWith("part-"))
        .sortBy(_.getFileName.toString).zipWithIndex.foreach { case (f, i) =>
          Files.setLastModifiedTime(f,
            java.nio.file.attribute.FileTime.fromMillis(1600000000000L + i * 1000L))
        }
      val schema = evs.toDF().schema
      val q = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in)
        .writeStream.format("memory").queryName("stale_out")
        .outputMode("append").start()
      q.processAllAvailable(); q.stop()
      assert(spark.table("stale_out").count() === 50,
        "FileStreamSource purged years-old staged files — the MtimeStamper premise broke")
    } finally {
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(dir)
      val files = try walk.iterator().asScala.toSeq.reverse finally walk.close()
      files.foreach(f => Files.deleteIfExists(f))
    }
  }

  test("streaming ingest dedup equals the batch incremental recompute") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // corpus holds texts A,B; the stream carries corpus hits (A,B),
    // batch-internal duplicates split ACROSS micro-batches (C), and the
    // min-id arriving AFTER a larger id (D) — update mode must converge
    // to the batch recompute regardless
    val corpus = Seq((1L, "A"), (2L, "B")).toDF("doc_id", "text")
    val b1 = Seq((10L, "A"), (11L, "C"), (14L, "D"))
    val b2 = Seq((12L, "C"), (13L, "B"), (9L, "D"))
    val mem = MemoryStream[(Long, String)]
    val state = scala.collection.mutable.Map.empty[String, (Long, Long)]
    val q = StreamOps.ingestDedup(
        mem.toDF().toDF("doc_id", "text"), corpus).writeStream
      .outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        b.collect().foreach(r => state(r.getString(0)) = (r.getLong(1), r.getLong(2))); ()
      }
      .start()
    mem.addData(b1); q.processAllAvailable()
    mem.addData(b2); q.processAllAvailable()
    q.stop()
    val batchDf = (b1 ++ b2).toDF("doc_id", "text")
    val expected = graft.operators.Dedup.exactIncremental(batchDf, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(state.values.toSet === expected)
    assert(state.keySet === Set("C", "D")) // corpus hits A,B dropped
    assert(state("C") === ((11L, 2L)) && state("D") === ((9L, 2L)))
  }

  test("streaming dedup drops duplicate keys") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamOps.Ev]
    val evs = eventData().take(100)
    mem.addData(evs ++ evs) // every event twice
    val q = StreamOps.dedupStream(mem.toDF()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup_out").count() === 100)
  }
}
