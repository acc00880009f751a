package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import graft.store.GraphStore
import graft.streaming.StreamOps
import graft.multimodal.Multimodal

class StoreStreamSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  // The streaming tests start foreachBatch/memory-sink queries and
  // stop them at the END of the test body — so a failed batch or
  // assertion would leak a live query into the suite-shared session
  // and poison every later test in this JVM. Suite-level guarantee:
  // whatever a test leaves running is stopped here.
  override def withFixture(test: NoArgTest): org.scalatest.Outcome =
    try super.withFixture(test)
    finally spark.streams.active.foreach { q =>
      try q.stop() catch { case _: Throwable => () }
    }

  test("store: commit + readLatest round trip, lineage rows present") {
    val base = Files.createTempDirectory("gs_").toString
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    val snap = GraphStore.commit(spark, base, "t1", df)
    assert(snap == 0)
    val back = GraphStore.readLatest(spark, base, "t1").get
    assert(back.as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    val lin = GraphStore.readLineage(spark, base, "t1").get
    assert(lin.columns.toSeq ==
      Seq("stage", "snapshot", "partition_id", "input_hash", "row_counts", "stage_ms"))
    assert(lin.agg(sum("row_counts")).head().getLong(0) == 2L)
  }

  test("store: second commit becomes the new snapshot") {
    val base = Files.createTempDirectory("gs_").toString
    GraphStore.commit(spark, base, "t", Seq((1L, "a")).toDF("id", "v"))
    GraphStore.commit(spark, base, "t", Seq((2L, "b")).toDF("id", "v"))
    assert(GraphStore.latestSnapshot(base, "t") == 1)
    val back = GraphStore.readLatest(spark, base, "t").get
    assert(back.as[(Long, String)].collect().toSet == Set((2L, "b")))
  }

  test("store: a killed (manifest-less) snapshot is invisible; resume recomputes") {
    val base = Files.createTempDirectory("gs_").toString
    GraphStore.commit(spark, base, "t", Seq((1L, "a")).toDF("id", "v"))
    // simulate kill mid-commit of snapshot=1: data written, no manifest
    val dir = Paths.get(base, "stage=t", "snapshot=1")
    Seq((99L, "dead")).toDF("id", "v").write.parquet(dir.resolve("data").toString)
    assert(GraphStore.latestSnapshot(base, "t") == 0, "uncommitted snapshot ignored")
    val resumed = GraphStore.readLatest(spark, base, "t").get
    assert(resumed.as[(Long, String)].collect().toSet == Set((1L, "a")))
    // getOrCompute resumes from the committed snapshot, not the corpse
    val got = GraphStore.getOrCompute(spark, base, "t")(
      Seq((5L, "new")).toDF("id", "v"))
    assert(got.as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("store: time-travel reads, retention expiry, rollback") {
    val base = Files.createTempDirectory("gs_tt_").toString
    // three committed versions of the table
    (0 to 2).foreach(i =>
      GraphStore.commit(spark, base, "t", Seq((i.toLong, s"v$i")).toDF("id", "v")))
    assert(GraphStore.snapshots(base, "t") == Seq(0L, 1L, 2L))
    // time-travel: each committed version readable by id
    (0 to 2).foreach { i =>
      val r = GraphStore.readSnapshot(spark, base, "t", i).get
        .as[(Long, String)].head()
      assert(r == ((i.toLong, s"v$i")))
    }
    assert(GraphStore.readSnapshot(spark, base, "t", 99).isEmpty)
    // a manifest-less corpse below the retention window is swept too
    val corpse = Paths.get(base, "stage=t", "snapshot=1", "manifest.json")
    Files.delete(corpse)
    // committed is now [0, 2] (1 is a corpse): keepLast=2 keeps both
    assert(GraphStore.expireSnapshots(base, "t", keepLast = 2).isEmpty)
    assert(GraphStore.snapshots(base, "t") == Seq(0L, 2L))
    // keepLast=1: snapshot 0 expires, the corpse at 1 is swept with it
    val expired = GraphStore.expireSnapshots(base, "t", keepLast = 1)
    assert(expired == Seq(0L))
    assert(GraphStore.snapshots(base, "t") == Seq(2L))
    assert(!Files.exists(Paths.get(base, "stage=t", "snapshot=1")))
    assert(GraphStore.readSnapshot(spark, base, "t", 0).isEmpty)
    // latest never expires, even with keepLast = 0
    assert(GraphStore.expireSnapshots(base, "t", keepLast = 0).isEmpty)
    assert(GraphStore.readLatest(spark, base, "t").get
      .as[(Long, String)].head() == ((2L, "v2")))
    // rollback: drop newer snapshots, restoring an older committed one
    GraphStore.commit(spark, base, "t", Seq((3L, "v3")).toDF("id", "v"))
    assert(GraphStore.latestSnapshot(base, "t") == 3)
    GraphStore.rollbackTo(base, "t", 2)
    assert(GraphStore.latestSnapshot(base, "t") == 2)
    assert(GraphStore.readLatest(spark, base, "t").get
      .as[(Long, String)].head() == ((2L, "v2")))
    intercept[IllegalArgumentException] {
      GraphStore.rollbackTo(base, "t", 99)
    }
  }

  test("store: getOrCompute computes once then resumes") {
    val base = Files.createTempDirectory("gs_").toString
    var computes = 0
    def f = { computes += 1; Seq((1L, "a")).toDF("id", "v") }
    GraphStore.getOrCompute(spark, base, "s")(f)
    GraphStore.getOrCompute(spark, base, "s")(f)
    assert(computes == 1)
  }

  test("store: lineage observed in the write equals a re-scan of the committed files") {
    // Six input partitions, a map column (not hashable) and a bucket
    // column, committed once flat and once directory-partitioned.
    val df = spark.range(0, 3000, 1, 6).select(
      $"id", concat(lit("v"), $"id").as("v"),
      map(lit("k"), $"id".cast("string")).as("m"),
      pmod(xxhash64($"id"), lit(5)).as("bucket"))
    for ((stage, partitionBy) <- Seq("flat" -> Nil, "bucketed" -> Seq("bucket"))) {
      val base = Files.createTempDirectory("gs_lin_").toString
      GraphStore.commit(spark, base, stage, df, partitionByCols = partitionBy)
      val lin = GraphStore.readLineage(spark, base, stage).get
      assert(lin.columns.toSeq ==
        Seq("stage", "snapshot", "partition_id", "input_hash", "row_counts", "stage_ms"))
      assert(lin.count() > 1, s"$stage: expected one lineage row per write task")
      val dataDir = Paths.get(base, s"stage=$stage", "snapshot=0", "data").toString
      val rescan = spark.read.parquet(dataDir)
      val n = rescan.count()
      assert(n == 3000L)
      assert(lin.agg(sum("row_counts")).head().getLong(0) == n, stage)
      assert(GraphStore.latestManifest(base, stage).get.rows == n, stage)
      // partition_id names the write task: its row count is what its
      // part-<id> files hold
      val perTaskFile = rescan
        .select(regexp_extract(input_file_name(), "part-(\\d+)-", 1).cast("int").as("t"))
        .groupBy("t").count().as[(Int, Long)].collect().toMap
      val perTaskLineage = lin.select("partition_id", "row_counts")
        .as[(Int, Long)].collect().toMap
      assert(perTaskLineage == perTaskFile, stage)
      val hashCols = Seq("id", "v") ++ (if (partitionBy.isEmpty) Seq("bucket") else Nil)
      val rescanXor = rescan.agg(bit_xor(xxhash64(hashCols.map(col): _*))).head().getLong(0)
      assert(lin.agg(bit_xor(col("input_hash"))).head().getLong(0) == rescanXor, stage)
    }
  }

  test("store: an empty frame commits with rows = 0 and an empty, readable lineage") {
    val base = Files.createTempDirectory("gs_empty_").toString
    val empties = Seq(
      "local" -> Seq.empty[(Long, String)].toDF("id", "v"),
      "filtered" -> spark.range(0, 100, 1, 4).filter($"id" < 0)
        .select($"id", $"id".cast("string").as("v")))
    for ((stage, df) <- empties) {
      assert(GraphStore.commit(spark, base, stage, df) == 0)
      assert(GraphStore.latestManifest(base, stage).get.rows == 0L, stage)
      assert(GraphStore.readLatest(spark, base, stage).get.count() == 0L, stage)
      val lin = GraphStore.readLineage(spark, base, stage).get
      assert(lin.columns.contains("row_counts") && lin.count() == 0L, stage)
    }
  }

  test("store: a write that throws mid-job surfaces, commits nothing, and the stage recommits") {
    val base = Files.createTempDirectory("gs_fail_").toString
    GraphStore.commit(spark, base, "t", Seq((1L, "a")).toDF("id", "v"))
    val poisoned = spark.range(0, 400, 1, 4).select($"id",
      when($"id" === 257, raise_error(lit("poisoned row")))
        .otherwise($"id".cast("string")).as("v"))
    val e = intercept[Exception](GraphStore.commit(spark, base, "t", poisoned))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("poisoned row")))
    assert(!Files.exists(Paths.get(base, "stage=t", "snapshot=1", "manifest.json")))
    assert(GraphStore.latestSnapshot(base, "t") == 0L)
    assert(GraphStore.latestManifest(base, "t").get.rows == 1L)
    assert(GraphStore.commit(spark, base, "t", Seq((2L, "b")).toDF("id", "v")) == 1L)
    assert(GraphStore.readLatest(spark, base, "t").get
      .as[(Long, String)].collect().toSeq == Seq((2L, "b")))
    assert(GraphStore.readLineage(spark, base, "t").get
      .agg(sum("row_counts")).head().getLong(0) == 1L)
  }

  test("store: one commit is one SQL execution and leaves only data/ and manifest.json") {
    val base = Files.createTempDirectory("gs_one_").toString
    val df = spark.range(0, 1000, 1, 4).select($"id", concat(lit("v"), $"id").as("v"))
    // Only this thread's executions count: the job group tags them.
    val group = "store-one-commit"
    val starts = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobGroupId.contains(group) =>
          starts.incrementAndGet()
        case _ =>
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, "one commit")
      try GraphStore.commit(spark, base, "t", df)
      finally spark.sparkContext.clearJobGroup()
      graft.metrics.TaskCounters.drain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(starts.get == 1)
    val snap = Files.list(Paths.get(base, "stage=t", "snapshot=0"))
    try assert(snap.iterator().asScala.map(_.getFileName.toString).toSet ==
      Set("data", "manifest.json"))
    finally snap.close()
  }

  test("store: an input fingerprint with quotes and backslashes round-trips; resume reuses it") {
    val base = Files.createTempDirectory("gs_fp_").toString
    val fp = "a\"b\\c"
    GraphStore.commit(spark, base, "t", Seq((1L, "a")).toDF("id", "v"), inputFp = fp)
    assert(GraphStore.latestManifest(base, "t").get.inputFp == fp)
    var computes = 0
    val got = GraphStore.getOrCompute(spark, base, "t", inputFp = fp) {
      computes += 1; Seq((2L, "b")).toDF("id", "v")
    }
    assert(computes == 0)
    assert(got.as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("store: a manifest without a lineage field reads its lineage as None") {
    val base = Files.createTempDirectory("gs_nolin_").toString
    GraphStore.commit(spark, base, "t", Seq((1L, "a")).toDF("id", "v"), inputFp = "fp")
    Files.writeString(Paths.get(base, "stage=t", "snapshot=0", "manifest.json"),
      """{"stage":"t","snapshot":0,"rows":1,"committed_ms":5,"input_fp":"fp"}""")
    assert(GraphStore.latestManifest(base, "t").get == GraphStore.Manifest(1L, "fp"))
    assert(GraphStore.readLineage(spark, base, "t").isEmpty)
  }

  test("pipeline: end-to-end matches q_triples/q_nodes; resume run is identical") {
    val base = Files.createTempDirectory("pipe_").toString
    val r1 = Pipeline.run(spark, TestSpark.sf0001, base, partitions = 8)
    assert(r1.auditMismatches == 0)
    val qTriples = SparkEntry.queries("q_triples")(spark, TestSpark.sf0001).count()
    // the flagship web triple set is the `triples` snapshot; the edge
    // store is a SUPERSET (web+ledger fused + placed/contains layers)
    val t1 = GraphStore.readLatest(spark, base, "triples").get
    assert(t1.count() == qTriples)
    assert(r1.nTriples >= qTriples)
    // resume: second run over the same store reads committed snapshots
    val r2 = Pipeline.run(spark, TestSpark.sf0001, base, partitions = 8)
    assert(r2.nTriples == r1.nTriples && r2.nNodes == r1.nNodes)
    // the rerun resumed every stage: each still has its one snapshot
    Pipeline.Stages.foreach { st =>
      assert(GraphStore.snapshots(base, st) == Seq(0L), s"stage $st")
    }
  }

  test("pipeline: an input file with a newer modification time recomputes every stage") {
    val input = Files.createTempDirectory("sf_touched_")
    Files.list(Paths.get(TestSpark.sf0001)).forEach(f => Files.copy(f, input.resolve(f.getFileName)))
    val base = Files.createTempDirectory("pipe_touched_").toString
    val r1 = Pipeline.run(spark, input.toString, base, partitions = 8)
    val orders = input.resolve("orders.parquet")
    Files.setLastModifiedTime(orders, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(orders).toMillis + 3600000L))
    val r2 = Pipeline.run(spark, input.toString, base, partitions = 8)
    Pipeline.Stages.foreach { st =>
      assert(GraphStore.latestSnapshot(base, st) == 1L, s"stage $st")
    }
    assert(r2.nTriples == r1.nTriples && r2.nNodes == r1.nNodes)
  }

  /** True once the session cache is empty, polled for up to 10 s: the
    * family futures of a failed run can still be finishing. */
  private def cacheDrains(): Boolean = {
    val deadline = System.nanoTime() + 10000000000L
    while (!spark.sharedState.cacheManager.isEmpty && System.nanoTime() < deadline)
      Thread.sleep(100)
    spark.sharedState.cacheManager.isEmpty
  }

  test("pipeline: a failing run throws and restores the session conf") {
    val input = Files.createTempDirectory("sf_no_lineitem_")
    Files.list(Paths.get(TestSpark.sf0001)).forEach { f =>
      if (f.getFileName.toString != "lineitem.parquet")
        Files.copy(f, input.resolve(f.getFileName))
    }
    val key = "spark.sql.constraintPropagation.enabled"
    val before = spark.conf.get(key)
    spark.catalog.clearCache()
    intercept[Exception](Pipeline.run(spark, input.toString,
      Files.createTempDirectory("pipe_fail_").toString, partitions = 8))
    assert(spark.conf.get(key) == before)
    assert(cacheDrains())
  }

  test("pipeline: an extraction that misses its reference text fails the extract write") {
    // One order's priority wrapped in markup: the page's html carries it
    // as a tag the extractor strips, its reference text keeps it.
    val input = Files.createTempDirectory("sf_bad_text_")
    Files.list(Paths.get(TestSpark.sf0001)).forEach { f =>
      if (f.getFileName.toString != "orders.parquet")
        Files.copy(f, input.resolve(f.getFileName))
    }
    val orders = spark.read.parquet(s"${TestSpark.sf0001}/orders.parquet")
    val bad = orders.agg(min($"o_orderkey")).head().get(0)
    orders.withColumn("o_orderpriority", when($"o_orderkey" === bad,
        concat(lit("<i>"), $"o_orderpriority", lit("</i>")))
        .otherwise($"o_orderpriority"))
      .coalesce(1).write.parquet(input.resolve("orders.parquet").toString)
    val store = Files.createTempDirectory("pipe_bad_text_").toString
    val key = "spark.sql.constraintPropagation.enabled"
    val before = spark.conf.get(key)
    spark.catalog.clearCache()
    val e = intercept[Exception](Pipeline.run(spark, input.toString, store, partitions = 8))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("byte-identity audit failed on")))
    assert(GraphStore.latestSnapshot(store, "extracted") == -1L)
    assert(spark.conf.get(key) == before)
    assert(cacheDrains())
  }

  test("store census == q_graph_census: every censused family persists at full cardinality") {
    val base = Files.createTempDirectory("pipe_census_").toString
    Pipeline.run(spark, TestSpark.sf0001, base, partitions = 8)
    val nodes = GraphStore.readLatest(spark, base, "nodes").get
    val edges = GraphStore.readLatest(spark, base, "edges").get
    val storeCensus = nodes.select(col("label"))
      .unionByName(edges.select(col("relation_label").as("label")))
      .groupBy("label").count()
      .as[(String, Long)].collect().toMap
    val census = SparkEntry.queries("q_graph_census")(spark, TestSpark.sf0001)
      .as[(String, Long)].collect().toMap
    assert(census.nonEmpty)
    // the committed store is NOT thinner than the declared/censused
    // schema: every censused family lands in the store at its exact
    // cardinality (complete entity universes make skip-bad-
    // relationships a no-op for declared families)
    census.foreach { case (label, n) =>
      assert(storeCensus.get(label).contains(n),
        s"family '$label': store=${storeCensus.get(label)} vs census=$n")
    }
    // every declared edge family is populated in the store
    val declared = graft.schema.KgSchema.edgeTypes.keySet
    val present = edges.select("relation_label").distinct().as[String].collect().toSet
    assert(declared.subsetOf(present),
      s"missing families: ${declared -- present}")
    // near_dup_of rows in the store == the q_dup_edges oracle query
    val dupStore = edges.filter(col("relation_label") === "near_dup_of")
      .select("subject_id", "object_id", "properties")
      .select(col("subject_id"), col("object_id"),
        col("properties")("common").cast("long").as("common"))
      .orderBy("subject_id", "object_id")
      .as[(String, String, Long)].collect().toSeq
    val dupQ = SparkEntry.queries("q_dup_edges")(spark, TestSpark.sf0001)
      .select(col("subject_id"), col("object_id"), col("common").cast("long"))
      .orderBy("subject_id", "object_id")
      .as[(String, String, Long)].collect().toSeq
    assert(dupStore.nonEmpty && dupStore == dupQ)
    // store-side conformance: zero violations across all families
    assert(graft.schema.KgSchema.edgeViolations(edges).isEmpty)
    assert(graft.schema.KgSchema.nodeViolations(nodes).isEmpty)
  }

  test("streaming: hourly agg over readStream equals batch result") {
    // FileStreamSource needs a directory, not a single parquet file
    val dir = Files.createTempDirectory("ev_")
    Files.copy(Paths.get(Corpus64Util.eventsPath), dir.resolve("events.parquet"))
    val events = dir.toString
    val batch = StreamOps.hourlyAgg(spark.read.parquet(events))
    val streamIn = spark.readStream
      .schema(spark.read.parquet(events).schema)
      .parquet(events)
    val q = StreamOps.hourlyAgg(streamIn).writeStream
      .format("memory").queryName("hourly_out").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("hourly_out")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    q.stop()
  }

  test("streaming: session_window sessionization over readStream equals batch result") {
    val dir = Files.createTempDirectory("sess_")
    Files.copy(Paths.get(Corpus64Util.eventsPath), dir.resolve("events.parquet"))
    val events = dir.toString
    val batch = StreamOps.userSessions(spark.read.parquet(events))
    val streamIn = spark.readStream
      .schema(spark.read.parquet(events).schema)
      .parquet(events)
    val q = StreamOps.userSessions(streamIn).writeStream
      .format("memory").queryName("sessions_out").outputMode("complete").start()
    q.processAllAvailable()
    val streamed = spark.table("sessions_out")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    // sessions genuinely merge events: at least one multi-event session
    assert(batch.filter($"n_events" > 1).count() > 0)
    q.stop()
  }

  test("streaming: stateful dedup emits each hash once across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.HashedDoc
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[HashedDoc]
    val q = StreamOps.dedupStream(in.toDS()).writeStream
      .format("memory").queryName("dedup_out").outputMode("append").start()
    // batch 1: hashes 10, 20 (and a same-batch dup of 10 -> min id wins)
    in.addData(HashedDoc(3L, 10L), HashedDoc(1L, 10L), HashedDoc(2L, 20L))
    q.processAllAvailable()
    // batch 2: 10 and 20 again (state drops them) + new hash 30
    in.addData(HashedDoc(9L, 10L), HashedDoc(8L, 20L), HashedDoc(7L, 30L))
    q.processAllAvailable()
    val out = spark.table("dedup_out").as[HashedDoc].collect().toSet
    q.stop()
    assert(out == Set(HashedDoc(1L, 10L), HashedDoc(2L, 20L), HashedDoc(7L, 30L)))
  }

  test("streaming near-dup (stateful MinHash LSH) equals batch pairs, detected ACROSS micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.DupPair
    implicit val sqlCtx = spark.sqlContext
    val docs = graft.fixtures.Corpus.table(spark, TestSpark.sf0001, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    val batchPairs = graft.textops.DedupOps
      .minhashNearDupPairs(spark.createDataset(docs).toDF("doc_id", "text"),
        "doc_id", "text")
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    assert(batchPairs.nonEmpty)
    // split so a known near-dup pair STRADDLES the batch boundary:
    // everything except one member of the first batch pair, then it
    val (wit1, wit2) = { val p = batchPairs.minBy(_._1); (p._1, p._2) }
    val b1 = docs.filterNot(_._1 == wit2)
    val b2 = docs.filter(_._1 == wit2)
    val in = MemoryStream[(Long, String)]
    val q = StreamOps.nearDupStream(in.toDS()).writeStream
      .format("memory").queryName("neardup_out").outputMode("append").start()
    in.addData(b1); q.processAllAvailable()
    in.addData(b2); q.processAllAvailable()
    val streamed = spark.table("neardup_out").distinct()
      .as[(Long, Long, Int, Int, Int)].collect().toSet
    q.stop()
    // exact pair set equality (ids, common, sizes) after read-side
    // distinct — including the pair whose members arrived in
    // DIFFERENT micro-batches (cross-batch state detection)
    assert(streamed == batchPairs)
    assert(streamed.exists(p => p._1 == wit1 && p._2 == wit2))
  }

  test("streaming KG front-end (extract + trie linking) matches the batch path across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.RawPage
    import graft.fixtures.Corpus
    implicit val sqlCtx = spark.sqlContext
    val pages = Corpus.pages(spark, TestSpark.sf0001)
      .select($"url", $"html").limit(200)
      .as[RawPage].collect()
    val dict = Corpus.aliasDict(spark, TestSpark.sf0001)

    val in = MemoryStream[RawPage]
    val q = StreamOps.mentionsStream(in.toDF(), dict).writeStream
      .format("memory").queryName("kg_front_out").outputMode("append").start()
    val (b1, b2) = pages.splitAt(pages.length / 2)
    in.addData(b1.toSeq); q.processAllAvailable()
    in.addData(b2.toSeq); q.processAllAvailable()
    val streamed = spark.table("kg_front_out")
    val batch = graft.link.Linker.mentions(
      spark.createDataset(pages.toSeq).toDF()
        .select($"url", graft.extract.HtmlText.htmlText($"html").as("text")),
      dict)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty)
    q.stop()
  }

  test("streaming into the store: micro-batch snapshots union to the batch store; replay is idempotent") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.RawPage
    import graft.fixtures.Corpus
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("stream_store_").toString
    val pages = Corpus.pages(spark, TestSpark.sf0001)
      .select($"url", $"html").limit(300)
      .as[RawPage].collect()
    val dict = Corpus.aliasDict(spark, TestSpark.sf0001)

    val in = MemoryStream[RawPage]
    val q = StreamOps.mentionsIntoStore(in.toDF(), dict, base).start()
    val (b1, rest) = pages.splitAt(100)
    val (b2, b3) = rest.splitAt(100)
    Seq(b1, b2, b3).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()

    // three committed snapshots, ids = batch ids
    assert(GraphStore.latestSnapshot(base, "mentions_stream") == 2L)
    val streamed = GraphStore.readAllSnapshots(spark, base, "mentions_stream").get
    val batchMentions = graft.link.Linker.mentions(
      spark.createDataset(pages.toSeq).toDF()
        .select($"url", graft.extract.HtmlText.htmlText($"html").as("text")),
      dict)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batchMentions).isEmpty &&
      batchMentions.exceptAll(streamed).isEmpty)

    // replaying an already-committed batch id is a no-op (foreachBatch
    // failure-recovery contract)
    val dupRows = spark.createDataset(b1.toSeq).toDF()
      .select($"url", graft.extract.HtmlText.htmlText($"html").as("text"))
    val committed = GraphStore.commitBatch(spark, base, "mentions_stream", 0L,
      graft.link.Linker.mentions(dupRows, dict))
    assert(!committed)
    assert(GraphStore.readAllSnapshots(spark, base, "mentions_stream").get.count()
      == streamed.count())

    // the batch back half over the streamed union == the batch triples
    val canon = Corpus.canonicalIds(spark, TestSpark.sf0001)
    val streamedTriples = graft.triples.Triples.extract(streamed, canon)
    val batchTriples = graft.triples.Triples.extract(batchMentions, canon)
    assert(streamedTriples.exceptAll(batchTriples).isEmpty &&
      batchTriples.exceptAll(streamedTriples).isEmpty)
  }

  test("commitBatch: a killed batch's manifest-less corpse is rewritten on replay, committed once") {
    val base = Files.createTempDirectory("batch_corpse_").toString
    import spark.implicits._
    val df = Seq((1L, "a"), (2L, "b")).toDF("id", "v")
    // simulate a kill between data write and manifest: data files land
    // under snapshot=7 but no manifest.json
    val corpse = java.nio.file.Paths.get(base, "stage=s", "snapshot=7")
    df.limit(1).write.parquet(corpse.resolve("data").toString)
    assert(GraphStore.latestSnapshot(base, "s") == -1L) // invisible
    assert(GraphStore.readAllSnapshots(spark, base, "s").isEmpty)
    // the replayed batch rewrites the corpse and commits
    assert(GraphStore.commitBatch(spark, base, "s", 7L, df))
    assert(GraphStore.latestSnapshot(base, "s") == 7L)
    assert(GraphStore.readAllSnapshots(spark, base, "s").get.count() == 2L)
    // a second replay of the SAME batch id is a no-op
    assert(!GraphStore.commitBatch(spark, base, "s", 7L, df.limit(1)))
    assert(GraphStore.readAllSnapshots(spark, base, "s").get.count() == 2L)
  }

  test("full continuous KG construction: per-batch triple commits union-distinct to the batch triple set") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.RawPage
    import graft.fixtures.Corpus
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("stream_kg_").toString
    val pages = Corpus.pages(spark, TestSpark.sf0001)
      .select($"url", $"html").limit(300)
      .as[RawPage].collect()
    val dict = Corpus.aliasDict(spark, TestSpark.sf0001)
    val canon = Corpus.canonicalIds(spark, TestSpark.sf0001).localCheckpoint(true)

    val in = MemoryStream[RawPage]
    val q = StreamOps.triplesIntoStore(in.toDF(), dict, canon, base).start()
    pages.grouped(100).foreach { b => in.addData(b.toSeq); q.processAllAvailable() }
    q.stop()

    assert(GraphStore.latestSnapshot(base, "triples_stream") == 2L)
    val streamed = GraphStore.readAllSnapshots(spark, base, "triples_stream").get
      .distinct() // cross-batch triple dedup happens at read
    val batchTriples = graft.triples.Triples.extract(
      graft.link.Linker.mentions(
        spark.createDataset(pages.toSeq).toDF()
          .select($"url", graft.extract.HtmlText.htmlText($"html").as("text")),
        dict),
      canon)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batchTriples).isEmpty &&
      batchTriples.exceptAll(streamed).isEmpty)
  }

  test("incremental canon: late cluster-merging aliases converge the streamed store to the batch store") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.KgEvent
    import graft.fixtures.Corpus
    implicit val sqlCtx = spark.sqlContext
    val base = Files.createTempDirectory("stream_inc_").toString
    val sf = TestSpark.sf0001
    val pages = Corpus.pages(spark, sf)
      .select($"url", $"html").limit(300)
      .as[(String, Array[Byte])].collect()
      .map { case (u, h) => KgEvent("page", u, h, null, null) }
    val aliasEdges = Corpus.partSameNameEdges(spark, sf)
      .as[(String, String)].collect()
      .map { case (s, d) => KgEvent("alias", null, null, s, d) }
    assert(aliasEdges.nonEmpty) // the late batch MUST merge clusters
    val dict = Corpus.aliasDict(spark, sf)

    val in = MemoryStream[KgEvent]
    val q = StreamOps.kgIncrementalIntoStore(
      in.toDF(), dict,
      aliases => Corpus.canonicalIdsFrom(spark, sf, aliases), base).start()
    // batch 0: most pages, ZERO aliases — every part is its own cluster,
    // so every multi-part name's triples commit under a stale canon
    val (early, late) = pages.splitAt(250)
    in.addData(early.toSeq); q.processAllAvailable()
    // batch 1: the aliases arrive late and merge clusters
    in.addData(aliasEdges.toSeq); q.processAllAvailable()
    // batch 2: alias-free page batch AFTER the merge — must reuse the
    // batch-1 canon (no CC recompute, no new canon snapshot) and land
    // its triples already-correct
    in.addData(late.toSeq); q.processAllAvailable()
    q.stop()

    // the merge produced a rewrite map and a correction snapshot
    assert(GraphStore.readAllSnapshots(spark, base, "canon_rewrites")
      .exists(_.count() > 0))
    assert(GraphStore.readAllSnapshots(spark, base, "triples_corrections")
      .exists(_.count() > 0))
    // the alias-free batch 2 skipped the canon write: snapshots 0 and 1
    assert(GraphStore.snapshots(base, "canon_stream") == Seq(0L, 1L))

    val batchTriples = graft.triples.Triples.extract(
      graft.link.Linker.mentions(
        spark.createDataset(pages.toSeq.map(e => (e.url, e.html))).toDF("url", "html")
          .select($"url", graft.extract.HtmlText.htmlText($"html").as("text")),
        dict),
      Corpus.canonicalIds(spark, sf))
    val streamed = StreamOps.resolvedStreamTriples(spark, base)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batchTriples).isEmpty &&
      batchTriples.exceptAll(streamed).isEmpty)
    // and WITHOUT resolution the stale batch-0 rows disagree — the
    // correction machinery is load-bearing, not vacuous
    val unresolved = GraphStore.readAllSnapshots(spark, base, "triples_stream")
      .get.distinct()
    assert(!unresolved.exceptAll(batchTriples).isEmpty)
  }

  test("streaming dedup agrees with batch exactDedup canonical ids") {
    import graft.streaming.HashedDoc
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
      .select($"doc_id", xxhash64($"text").as("text_hash")).as[HashedDoc]
    val streamed = StreamOps.dedupStream(docs).collect().map(_.doc_id).toSet
    val batch = graft.textops.DedupOps.exactDedup(
      docs.toDF(), "doc_id", "text_hash")
      .select("canonical_id").as[Long].collect().toSet
    assert(streamed == batch)
  }

  test("multimodal: batch feature extraction is deterministic with real schema") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    assert(media.schema("media").dataType.typeName == "binary")
    val f1 = Multimodal.extractFeatures(media).toDF()
    val f2 = Multimodal.extractFeatures(media).toDF()
    assert(f1.exceptAll(f2).isEmpty)
    val row = f1.filter($"doc_id" === 0).head()
    assert(row.getAs[scala.collection.Seq[Float]]("feature").length == 8)
    assert(row.getAs[Int]("n_bytes") > 0)
  }

  test("multimodal: resize caps payloads at target dims, deterministic, small rows untouched") {
    val docs = spark.read.parquet(s"${TestSpark.sf0001}/documents.parquet")
    val media = Multimodal.mediaFromDocuments(docs)
    val r1 = Multimodal.resize(media, 8, 8).toDF()
    val r2 = Multimodal.resize(media, 8, 8).toDF()
    assert(r1.exceptAll(r2).isEmpty) // both paths are deterministic
    val rows = r1.select($"doc_id", $"kind", length($"media").as("n"))
      .join(media.select($"doc_id", length($"media").as("orig")), "doc_id")
      .as[(Long, String, Int, Int)].collect()
    assert(rows.nonEmpty)
    rows.foreach { case (id, kind, n, orig) =>
      if (kind == "image")
        assert(n == 246, s"doc $id: 8x8 BMP re-encode must be 246 bytes, got $n")
      else {
        assert(n <= 64, s"doc $id resized above 8x8 cap: $n")
        if (orig <= 64) assert(n == orig, s"doc $id small payload was altered")
      }
    }
    // golden: 130 bytes at cap 64 -> stride ceil(130/64)=3 -> 44 sampled
    val g = Multimodal.resizeStub(Array.tabulate(130)(_.toByte), 8, 8)
    assert(g.length == 44 && g(0) == 0 && g(1) == 3 && g(43) == 129.toByte)
  }

  test("multimodal: the image path is REAL — ImageIO decodes the synthesized BMP and the resize output") {
    // decode round-trip: the JDK codec reads back exactly the dims and
    // pixels the generator wrote
    val id = 42L
    val (w, h) = Multimodal.synthBmpDims(id)
    val bytes = Multimodal.synthBmp(id)
    assert(bytes.length == 54 + h * ((3 * w + 3) / 4 * 4))
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    assert(img != null && img.getWidth == w && img.getHeight == h)
    for (x <- 0 until w; y <- 0 until h) {
      val v = ((x * 7 + y * 13).toLong + id) % 256
      val p = img.getRGB(x, y)
      assert(((p >> 16) & 0xFF) == v.toInt, s"R at ($x,$y)")
      assert(((p >> 8) & 0xFF) == (v * 3 % 256).toInt, s"G at ($x,$y)")
      assert((p & 0xFF) == (v * 5 % 256).toInt, s"B at ($x,$y)")
    }
    // extractFeatures reads the REAL decoded dims, not a byte-length stub
    val feat = Multimodal.extractFeatures(
      Seq((id, bytes, "image")).toDF("doc_id", "media", "kind")).head()
    assert(feat.width == w && feat.height == h && feat.n_bytes == bytes.length)
    assert(feat.feature.sum == (w * h).toFloat) // histogram counts every pixel
    // resize output is itself a decodable 8x8 image whose pixels are the
    // nearest-neighbor samples of the source
    val out = Multimodal.resizeImage(bytes, 8, 8)
    val rimg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(out))
    assert(rimg != null && rimg.getWidth == 8 && rimg.getHeight == 8)
    for (x <- 0 until 8; y <- 0 until 8)
      assert(rimg.getRGB(x, y) == img.getRGB(x * w / 8, y * h / 8))
  }

  test("multimodal: frame sampling is bounded, integer-exact, bytes round-trip") {
    // golden: 40 bytes, frameSize 16 -> frames 0..2 of len 16,16,8;
    // everyNth=1 keeps all three, bytes are the exact slices
    val one = Seq((7L, Array.tabulate(40)(_.toByte), "video"))
      .toDF("doc_id", "media", "kind")
    val fs = Multimodal.sampleFrames(one, frameSize = 16, everyNth = 1,
        maxFrames = 8).collect().sortBy(_.frame_idx)
    assert(fs.map(f => (f.frame_idx, f.n_bytes)).toSeq ==
      Seq((0L, 16), (1L, 16), (2L, 8)))
    assert(fs(1).frame.toSeq == (16 until 32).map(_.toByte))
    // the per-row cap binds: a "10-hour video" yields exactly maxFrames
    val big = Seq((8L, Array.tabulate(10000)(_.toByte), "video"))
      .toDF("doc_id", "media", "kind")
    val capped = Multimodal.sampleFrames(big, frameSize = 16, everyNth = 4,
        maxFrames = 8).collect()
    assert(capped.length == 8 &&
      capped.map(_.frame_idx).sorted.toSeq == Seq(0L, 4L, 8L, 12L, 16L, 20L, 24L, 28L))
  }
}

object Corpus64Util {
  val eventsPath = s"${TestSpark.sf0001}/events.parquet"
}
