package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Relational
import graft.sources.Sources
import java.nio.file.Files

/** Plan-shape assertions: the 100 TB story depends on pushdown, pruning
  * and broadcast actually appearing in the physical plan — so we assert
  * on the plan, not just the result. */
class ExplainSourcesSpec extends AnyFunSuite with SharedSpark {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("filter+project reach the parquet scan (pushdown + pruning)") {
    val p = plan(Relational.filterProject(table("lineitem")))
    assert(p.contains("PushedFilters: ["), s"no pushed filters in:\n$p")
    assert(p.contains("l_shipdate"), "shipdate predicate not pushed")
    // pruned read schema must not include unprojected columns like l_tax
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_tax"), s"scan reads unneeded columns: $readSchema")
  }

  test("star join broadcasts the dimensions") {
    val p = plan(Relational.nationRevenue(table("region"), table("nation"),
      table("customer"), table("orders"), table("lineitem")))
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins in:\n$p")
    assert(!p.replace("BroadcastHashJoin", "").contains("SortMergeJoin") ||
      p.contains("BroadcastHashJoin"))
  }

  test("aggregates run inside whole-stage codegen with partial aggregation") {
    val df = Relational.pricingSummary(table("lineitem"))
    df.collect() // AQE finalizes the physical plan only on execution
    val p = plan(df)
    assert(p.contains("HashAggregate"), "no hash aggregate")
    assert(p.contains("partial_sum"), "aggregation is not partial (map-side combine missing)")
    // codegen stages render as "*(n) HashAggregate" (or WholeStageCodegen nodes)
    assert(p.contains("*(") || p.contains("WholeStageCodegen"), "aggregate fell out of codegen")
    assert(p.linesIterator.exists(l => l.contains("*(") && l.contains("HashAggregate")),
      "HashAggregate not inside a codegen stage")
  }

  test("flagship has no per-cell distinct expand; partial agg on the fact join") {
    val df = Relational.revenueCube(table("region"), table("nation"),
      table("customer"), table("orders"), table("lineitem"))
    df.collect()
    val p = plan(df)
    // the two-level shape must not reintroduce a distinct aggregate
    assert(!p.contains("Expand"), "distinct expand reappeared in the flagship")
    assert(p.contains("partial_sum"), "no map-side combine in flagship aggregates")
  }

  test("boilerplate is two-phase combinable: no Window over the shingle key") {
    val df = graft.operators.Curation.boilerplate(table("documents"))
    df.collect()
    // AQE's toString appends an "Initial Plan" section — audit the final
    // plan only, or every node double-counts
    val p = plan(df).split("== Initial Plan ==")(0)
    // a boilerplate shingle is the hottest key in the corpus — the df
    // count must partial-aggregate map-side (groupBy), never land every
    // occurrence on one reducer (a Window cannot combine; the d16/d7 rule)
    assert(!p.contains("Window"), s"shingle-keyed window reappeared in:\n$p")
    assert(p.contains("partial_count") || p.contains("partial_"),
      s"no map-side combine in:\n$p")
    // the exploded stream is checkpointed once: the tokenize+explode
    // pipeline must not re-run per consumer
    assert(p.linesIterator.count(_.contains("Generate explode")) === 0,
      s"explode re-ran past the checkpoint in:\n$p")
  }

  test("optimizer rewrites the HOF dot product to the native expression") {
    import graft.functions.ColumnFns
    // range-backed input (a literal toDF collapses to a LocalRelation and
    // is constant-folded before the plan can be inspected)
    val df = spark.range(3).select(col("id").cast("double").as("x"))
      .select(array(col("x"), lit(2.0)).as("a"),
        when(col("x") === 2.0, array(lit(4.0)))
          .otherwise(array(lit(4.0), lit(5.0))).as("b")) // ragged at x=2
    val hof = df.select(ColumnFns.dotHof(col("a"), col("b")).as("d"))
    assert(hof.queryExecution.optimizedPlan.toString.contains("graft_dot"),
      s"rewrite did not fire:\n${hof.queryExecution.optimizedPlan}")
    val rows = hof.orderBy(col("d").asc_nulls_last).collect()
    // x=0: [0,2]·[4,5]=10 ; x=1: [1,2]·[4,5]=14 ; x=2 ragged → HOF's NULL
    assert(rows(0).getDouble(0) === 10.0 && rows(1).getDouble(0) === 14.0)
    assert(rows(2).isNullAt(0))
  }

  test("library operators carry no terminal global sort (ordering is a gate concern)") {
    // a global orderBy plans as Exchange rangepartitioning — none of the
    // library operator bodies may contain one (the gate adds presentation
    // order per query key; composing callers never pay for it)
    val samples = Seq(
      Relational.pricingSummary(table("lineitem")),
      graft.operators.Curation.tfidf(table("documents")),
      graft.operators.Dedup.exact(table("documents")),
      graft.operators.Dedup.embeddingLshPairs(table("embeddings")),
      graft.operators.TextOps.langIdMetrics(table("documents")),
      graft.operators.TimeJoins.sessionize(table("events")))
    samples.foreach { df =>
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(!p.contains("rangepartitioning"),
        s"terminal global sort in library operator plan:\n$p")
    }
  }

  test("the gate returns each key's rows in its gateSort order") {
    import scala.jdk.CollectionConverters._
    Seq("d1_dedup_exact", "q5_nation_revenue").foreach { k =>
      val gated = SparkEntry.queries(k)(spark, SharedSpark.sfDir)
      val rows = gated.collect().toSeq
      val cs = SparkEntry.gateSort(k)
      val sorted = spark.createDataFrame(rows.asJava, gated.schema)
        .orderBy(cs.map(col): _*).collect().toSeq
      def keys(rs: Seq[org.apache.spark.sql.Row]) = rs.map(r => cs.map(r.getAs[Any](_)))
      assert(rows.size > 1, s"$k: too few rows to show an order")
      assert(keys(rows) === keys(sorted), s"$k: rows are not in ${cs.mkString(", ")} order")
    }
  }

  test("the gate's sort starts no Spark job over the bare operator") {
    // fresh frames per count: a re-collected frame reuses its shuffle
    // stages; the warm-up infers the documents schema outside the counts
    def bare = graft.operators.Dedup.exact(table("documents"))
    bare.collect()
    val gatedJobs = jobsStartedBy(
      SparkEntry.queries("d1_dedup_exact")(spark, SharedSpark.sfDir).collect())
    val bareJobs = jobsStartedBy(bare.collect())
    assert(gatedJobs === bareJobs,
      s"the gated d1 ran $gatedJobs Spark jobs, the bare operator $bareJobs")
  }

  test("lang scores are evaluated once: stacked projections stay stacked") {
    // each language contributes exactly ONE stopword-scan expression
    // (array_contains against its word list); the pred_lang when-chain
    // must reference the projected attributes, not re-run the scans
    Seq(graft.operators.TextOps.langIdMetrics(table("documents")),
        graft.operators.Curation.curationFunnel(table("documents"))).foreach { df =>
      val p = df.queryExecution.optimizedPlan.toString
      val scans = p.sliding("array_contains".length).count(_ == "array_contains")
      val n = graft.operators.TextOps.langOrder.size
      assert(scans === n, s"expected $n stopword scans, found $scans in:\n$p")
    }
  }

  test("incremental dedup plans: anti join for d12, no unkeyed pair join in s5/d11") {
    val docs = table("documents")
    val batch = docs.filter(pmod(col("doc_id"), lit(2)) === 0)
    val corpus = docs.filter(pmod(col("doc_id"), lit(2)) === 1)
    // d12: ONE anti join on the text key + partial-agg dedup of the
    // surviving batch side — the corpus is never grouped or self-joined
    val d12 = graft.operators.Dedup.exactIncremental(batch, corpus)
    d12.collect()
    val p12 = plan(d12).split("== Initial Plan ==")(0)
    assert(p12.contains("LeftAnti"), s"no anti join in d12 plan:\n$p12")
    assert(p12.contains("partial_"), s"no map-side combine in d12 plan:\n$p12")
    // the sub-quadratic scale paths must plan KEYED joins only — a
    // cartesian/nested-loop pair join is exactly the shape they exist to
    // avoid
    val s5 = graft.operators.Similarity.knnGraphLsh(table("embeddings"))
    s5.collect()
    val d11 = graft.operators.Dedup.minhashIncremental(
      batch, graft.operators.Dedup.minhashSignatures(corpus))
    d11.collect()
    Seq("s5" -> plan(s5), "d11" -> plan(d11)).foreach { case (name, pl) =>
      val p = pl.split("== Initial Plan ==")(0)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"unkeyed pair join in $name scale-path plan:\n$p")
    }
  }

  test("scd2 and interval islands: one exchange, one sort — windows share the pass") {
    Seq(Relational.scd2(table("events")),
        Relational.intervalIslands(table("events"))).foreach { df =>
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
      assert(exchanges === 1, s"expected exactly one hash exchange, got $exchanges in:\n$p")
      val sorts = p.linesIterator.count(l => l.contains("Sort [") && !l.contains("SortAggregate"))
      assert(sorts <= 1, s"windows re-sorted ($sorts sorts) in:\n$p")
    }
  }

  test("robust outlier gate: tiny aggregates broadcast back, flag stays map-side") {
    val df = Relational.robustOutliers(table("events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"), s"med/mad joins not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"5-row aggregate shuffled the corpus in:\n$p")
  }

  test("bloom probe is a pure map: no join, no exchange before the per-doc count") {
    val docs = table("documents")
    val df = graft.operators.Curation.bloomGate(docs,
      graft.operators.Curation.benchmarkBloom(docs.limit(20)))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"bloom probe introduced a join in:\n$p")
    val exchanges = p.linesIterator.count(_.contains("Exchange "))
    assert(exchanges <= 1, s"probe shuffled more than the doc_id agg in:\n$p")
  }

  test("k-means assignment is a projection: no join or corpus exchange before the update agg") {
    // one Lloyd iteration's update input — the per-iteration hot path
    val p = plan(graft.operators.Similarity.kmeans(table("embeddings"), k = 4, iters = 1))
      .split("== Initial Plan ==")(0)
    assert(!p.contains("Join"), s"assignment joined instead of projecting in:\n$p")
  }

  test("conversion window: the three carry-forwards share one exchange and sort") {
    val df = graft.operators.TimeJoins.conversionWindow(table("events"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // one hash exchange for the window, one for the final user agg (AQE
    // may reuse); never more than two, and exactly one Sort
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges <= 2, s"expected <=2 exchanges, got $exchanges in:\n$p")
    val sorts = p.linesIterator.count(l => l.contains("Sort [") && !l.contains("SortAggregate"))
    assert(sorts === 1, s"carry-forwards re-sorted ($sorts) in:\n$p")
  }

  test("cdc apply: the changelog collapses before the join; the snapshot is never sorted") {
    val df = SparkEntry.queries("q44_cdc_apply")(spark, SharedSpark.sfDir)
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // exactly one Window (latest-per-key over the CHANGELOG) — a second
    // would mean the snapshot got windowed
    val windows = p.linesIterator.count(_.contains("Window ["))
    assert(windows === 1, s"expected 1 window (changelog collapse), got $windows in:\n$p")
  }

  test("pii scrub, bpe apply and gopher rules are pure maps: no join, no exchange") {
    Seq(graft.operators.TextOps.scrubPii(table("documents")),
        graft.operators.TextOps.bpeTokenize(table("documents"),
          Seq(("t", "h"), ("th", "e"))),
        graft.operators.TextOps.gopherQuality(table("documents"))).foreach { df =>
      df.collect()
      val p = plan(df).split("== Initial Plan ==")(0)
      assert(!p.contains("Join"), s"map-only op introduced a join in:\n$p")
      assert(!p.contains("Exchange"), s"map-only op shuffled in:\n$p")
    }
  }

  test("bm25: query terms and corpus stats broadcast; no sort-merge join") {
    val df = graft.operators.Curation.bm25TopK(table("documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the qt join is broadcast-hash, the two one-row stat tables ride as
    // broadcast nested loops — scoring must never shuffle-join the
    // candidate rows against a tiny side
    assert(p.contains("BroadcastHashJoin"), s"query-term join not broadcast in:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a tiny side reached a shuffle join in:\n$p")
  }

  test("dup spans: two-phase shingle count (partial agg + semi-join), no window on sh") {
    val df = graft.operators.Dedup.dupSpans(table("documents"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // duplicate marking must be the map-side-combinable groupBy(sh).count
    // joined back (bounded reducers under hot boilerplate shingles), NOT
    // a count-over-shingle window (no partial agg → one task per hot key)
    assert(p.contains("partial_count"),
      s"shingle count is not map-side combined in:\n$p")
    assert(p.contains("LeftSemi"), s"expected semi-join back on sh in:\n$p")
    val shWindow = p.linesIterator.exists(l =>
      l.contains("Window") && l.contains("windowspecdefinition(sh"))
    assert(!shWindow, s"a shingle-partitioned window regressed into:\n$p")
  }

  test("dup spans: hot shingle (in 50% of docs) stays two-phase and correct") {
    // one boilerplate sentence planted in every even doc — the skewed-key
    // regime the window form straggles on; assert the plan keeps the
    // partial-agg shape AND the spans still come out right
    import spark.implicits._
    val boiler = "we value your privacy please accept all cookies to continue"
    val docs = (0 until 200).map { i =>
      val uniq = s"unique_${i}_alpha beta_$i gamma_$i delta_$i eps_$i zeta_$i eta_$i theta_$i"
      (i.toLong, if (i % 2 == 0) s"$boiler $uniq" else uniq)
    }.toDF("doc_id", "text")
    val out = graft.operators.Dedup.dupSpans(docs, w = 8)
    val p = plan(out).split("== Initial Plan ==")(0)
    assert(p.contains("partial_count") && p.contains("LeftSemi"),
      s"hot-shingle marking lost the two-phase shape:\n$p")
    val rows = out.collect()
    // every even doc carries exactly the 10-token boilerplate span [1,10]
    assert(rows.length === 100)
    assert(rows.forall { r =>
      r.getAs[Long]("doc_id") % 2 == 0 &&
        r.getAs[Int]("start_pos") == 1 && r.getAs[Int]("end_pos") == 10
    }, s"unexpected spans: ${rows.take(5).mkString(", ")}")
  }

  test("sentences and image phash are pure maps: no join, no exchange") {
    val s = plan(graft.operators.TextOps.sentences(table("documents")))
    assert(!s.contains("Join") && !s.contains("Exchange"),
      s"sentence segmentation must not shuffle:\n$s")
    val ph = graft.operators.Multimodal
      .imagePhash(spark, table("documents")).queryExecution.executedPlan.toString
    assert(!ph.contains("Join") && !ph.contains("Exchange"),
      s"phash table build must not shuffle:\n$ph")
  }

  test("mips: queries broadcast, no sort-merge join") {
    val p = plan(graft.operators.Similarity.mipsTopK(table("embeddings")))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast query side in:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus must not sort-merge:\n$p")
  }

  test("classifier scoring after the staged featurize is map-only") {
    // the production apply shape: weights are a literal; everything
    // after the (checkpointed) feature frame must be a projection
    val docs = table("documents")
    val w = Array.fill(graft.operators.QualityModel.Dim + 1)(0.01)
    val df = graft.operators.QualityModel.score(docs, w)
    val p = plan(df)
    // featurize ends at the localCheckpoint scan; scoring adds no
    // join and no further exchange on top of it
    assert(!p.contains("Join"), s"scoring joined:\n$p")
    assert(!p.contains("Exchange"), s"scoring shuffled:\n$p")
  }

  test("random projection is a pure map: no join, no exchange") {
    val df = graft.operators.Similarity.randomProjection(table("embeddings"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the sign matrix is in-row hash algebra and the sums are in-row
    // folds — the corpus must neither join nor shuffle for a projection
    assert(!p.contains("Join"), s"projection introduced a join in:\n$p")
    assert(!p.contains("Exchange"), s"projection shuffled in:\n$p")
  }

  test("IVF-PQ corpus side: cells and codes assigned without a shuffle join") {
    val emb = table("embeddings")
    val df = graft.operators.Similarity.ivfPqTopK(emb,
      graft.operators.Similarity.pqCodebooks(emb))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    // the pivots and codebooks are plan constants (no join at all) and
    // the query set broadcasts; the only shuffle-eligible join is the
    // cell-keyed candidate join, and at this scale AQE broadcasts that
    // too — a SortMergeJoin anywhere means a corpus derivation got
    // self-joined
    assert(!p.contains("SortMergeJoin"),
      s"a corpus derivation reached a shuffle join in:\n$p")
  }

  test("bpe learn touches only the word aggregate: one exchange, top-k no global sort") {
    // the fit's distributed part — word count + deterministic vocab cap
    val wc = table("documents")
      .select(explode(graft.functions.ColumnFns.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word")).limit(100000)
    wc.collect()
    val p = plan(wc).split("== Initial Plan ==")(0)
    val exchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges === 1, s"expected one word-count exchange, got $exchanges in:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cap is not a top-k (global sort instead) in:\n$p")
  }

  test("csv and json round-trip with explicit schemas") {
    val dir = tempDir("graft-sources").toString
    val df = table("nation")
    df.write.option("header", "true").mode("overwrite").csv(s"$dir/nation_csv")
    df.write.mode("overwrite").json(s"$dir/nation_json")
    val schema = StructType(Seq(
      StructField("n_nationkey", IntegerType), StructField("n_name", StringType),
      StructField("n_regionkey", IntegerType)))
    val backCsv = Sources.csv(spark, s"$dir/nation_csv", schema)
    val backJson = Sources.jsonLines(spark, s"$dir/nation_json", schema)
    val orig = df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(backCsv.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet === orig)
    assert(backJson.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet === orig)
  }

  test("orc round-trips with an explicit schema and pushes filters") {
    val dir = tempDir("graft-orc").toString
    val df = table("orders")
    Sources.writeOrc(df, s"$dir/orders_orc")
    val schema = df.schema
    val back = Sources.orc(spark, s"$dir/orders_orc", schema)
    assert(back.count() === df.count())
    val sel = back.filter(col("o_orderkey") === 42L).select("o_orderkey", "o_totalprice")
    val p = plan(sel)
    assert(p.contains("Format: ORC") || p.contains("orc"), s"not an ORC scan:\n$p")
    assert(p.contains("PushedFilters: [") && p.contains("o_orderkey"),
      s"filter not pushed to ORC scan:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("o_comment") || !df.columns.contains("o_comment"))
    assert(sel.collect().map(_.getLong(0)).forall(_ == 42L))
  }

  test("avro round-trips with an explicit schema (cancels without spark-avro)") {
    assume(Sources.avroAvailable(spark), "spark-avro connector not on this classpath")
    val dir = tempDir("graft-avro").toString
    val df = table("nation")
    Sources.writeAvro(df, s"$dir/nation_avro")
    val back = Sources.avro(spark, s"$dir/nation_avro", df.schema)
    assert(back.collect().map(_.toString).toSet === df.collect().map(_.toString).toSet)
  }

  test("jdbc round-trips via embedded Derby with partitioned parallel reads") {
    val url = "jdbc:derby:memory:graftjdbc;create=true"
    val props = new java.util.Properties
    props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val df = table("nation")
    df.write.mode("overwrite").jdbc(url, "nation_jdbc", props)
    val back = Sources.jdbc(spark, url, "nation_jdbc",
      partitionColumn = "n_nationkey", lowerBound = 0L, upperBound = 25L,
      numPartitions = 4, props)
    // genuinely parallel: one task per bound range
    assert(back.rdd.getNumPartitions === 4)
    val orig = df.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet
    assert(back.collect().map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSet === orig)
    // predicate pushdown reaches the generated SQL
    val sel = back.filter(col("n_regionkey") === 1)
    assert(plan(sel).contains("PushedFilters"), plan(sel))
    assert(sel.count() === df.filter(col("n_regionkey") === 1).count())
  }

  test("compaction rewrites a many-small-files dataset into few files") {
    val dir = tempDir("graft-compact").toString
    val in = s"$dir/in"; val out = s"$dir/out"
    table("orders").repartition(50).write.mode("overwrite").parquet(in)
    def parquetFiles(p: String): Int =
      new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
    assert(parquetFiles(in) === 50)
    Sources.compactTo(spark, in, out, targetMB = 512)
    assert(parquetFiles(out) === 1) // tiny dataset → one right-sized file
    assert(spark.read.parquet(out).count() === table("orders").count())
  }

  test("partitioned write prunes partitions on read") {
    val dir = tempDir("graft-part").toString
    Sources.writePartitioned(table("orders"), s"$dir/orders",
      partitionCols = Seq("o_orderstatus"), sortCols = Seq("o_orderdate"))
    val back = spark.read.parquet(s"$dir/orders").filter(col("o_orderstatus") === "F")
    val p = plan(back)
    assert(back.count() === table("orders").filter(col("o_orderstatus") === "F").count())
    assert(p.contains("PartitionFilters: [") && p.contains("o_orderstatus"),
      s"partition pruning missing in:\n$p")
  }

  test("schema-evolution read: merged columns, old rows null-fill the late column") {
    import spark.implicits._
    val root = SharedSpark.tempDir("graft-evolve").toString
    Seq((1L, 10.0), (2L, 20.0)).toDF("id", "price")
      .write.mode("overwrite").parquet(s"$root/b1")
    Seq((3L, 30.0, "HIGH"), (4L, 40.0, "LOW")).toDF("id", "price", "priority")
      .write.mode("overwrite").parquet(s"$root/b2")
    val merged = graft.sources.Sources.readEvolved(spark, s"$root/b1", s"$root/b2")
    assert(merged.columns.toSet === Set("id", "price", "priority"))
    val rows = merged.collect().map(r => r.getAs[Long]("id") -> r).toMap
    assert(rows.size === 4)
    assert(rows(1L).isNullAt(rows(1L).fieldIndex("priority")))
    assert(rows(3L).getAs[String]("priority") === "HIGH")
    // a reader pinned to ONE batch's schema silently drops the column —
    // the failure mode readEvolved exists to prevent
    assert(!spark.read.parquet(s"$root/b1").columns.contains("priority"))
  }

  test("gazetteer tag: dictionary arrives by broadcast, no window anywhere") {
    // planted corpus: zero matches would let AQE collapse the whole
    // plan to EmptyRelation and erase the join being asserted on
    val df = graft.operators.TextOps.gazetteerTag(
      SparkEntry.plantEntities(table("documents")))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(p.contains("BroadcastHashJoin"),
      s"gazetteer must broadcast, not shuffle the corpus:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"),
      s"corpus-sized shuffle or window crept into the tagger:\n$p")
  }

  test("skew profile and source diversity: one scan of the fact table each") {
    // q60: the diagnosis must not cost more than the join's own agg —
    // one scan of events, no window over anything data-sized (the
    // top-20 window is fine; it follows a LIMIT)
    val skew = Relational.skewProfile(table("events"))
    skew.collect()
    val sp = plan(skew).split("== Initial Plan ==")(0)
    assert(sp.split("Scan parquet").length - 1 === 1,
      s"skew profile re-scanned the fact table:\n$sp")
    // c57: two combinable aggregates; the ln-sum must not introduce a
    // window or a non-broadcast join (doc counts join on sources only)
    val div = graft.operators.Curation.sourceDiversity(table("documents"))
    div.collect()
    val dp = plan(div).split("== Initial Plan ==")(0)
    assert(!dp.contains("Window"), s"diversity grew a window:\n$dp")
  }

  test("hierarchy pointer jumping: log-depth joins, no window, no cartesian") {
    val df = Relational.hierarchy(table("supplier"))
    df.collect()
    val p = plan(df).split("== Initial Plan ==")(0)
    assert(!p.contains("Window"), s"hierarchy grew a window:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"pointer jump degenerated to a cross product:\n$p")
    // per-round localCheckpoint cuts the lineage, so the FINAL plan
    // carries only the base/size joins — without it the lazy self-join
    // doubles the plan per round (34 joins observed before the fix)
    val joins = p.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("BroadcastHashJoin") ||
        l.contains("ShuffledHashJoin"))
    assert(joins <= 4, s"lineage not cut (expected <=4 joins, got $joins) in:\n$p")
  }

  test("DV read plan: pairs broadcast as a hash anti-join, no shuffle, filters pushed to both branches") {
    import spark.implicits._
    import graft.sources.TxTable
    val root = Files.createTempDirectory("explain-dv").toString + "/tbl"
    TxTable.create(spark,
      (0L until 1000L).map(k => (k, s"v$k")).toDF("k", "v")
        .repartitionByRange(4, col("k")), root, "k")
    TxTable.deleteKeysDV(spark, root, (10L until 20L).toDF("k"), "k")
    val df = TxTable.readWhere(spark, root, "k", 0L, 600L)
    df.collect() // AQE finalizes on execution
    val p = plan(df)
    // the (file, key) DV pairs must broadcast into a HASH anti-join —
    // a nested-loop here would be a per-row scan of the pair list
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      s"DV application is not a broadcast hash anti-join:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"DV application degraded to a nested loop:\n$p")
    // applying a vector must add no shuffle: the only Exchanges allowed
    // are broadcast ones
    assert(!p.linesIterator.exists(l =>
        l.contains("Exchange") && !l.contains("Broadcast")),
      s"DV read grew a shuffle:\n$p")
    // the residual range filter reaches BOTH scans (plain + DV'd)
    val pushed = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(pushed.count(_.contains("LessThanOrEqual(k,600)")) >= 2,
      s"range filter not pushed into both union branches:\n${pushed.mkString("\n")}")
  }

  test("date extract and ocr repair are pure maps: no exchange at all") {
    Seq(graft.operators.TextOps.dateExtract(table("documents")),
        graft.operators.TextOps.confusableScrub(table("documents")))
      .foreach { df =>
        val p = plan(df).split("== Initial Plan ==")(0)
        assert(!p.contains("Exchange"), s"pure map grew a shuffle:\n$p")
        assert(!p.contains("Join"), s"pure map grew a join:\n$p")
      }
    // t32 keeps its shuffle-free shape too (tokenizer + one rewrite)
    val ocr = plan(graft.operators.TextOps.ocrRepair(table("documents")))
      .split("== Initial Plan ==")(0)
    assert(!ocr.contains("Exchange"), s"ocr repair grew a shuffle:\n$ocr")
  }
}
