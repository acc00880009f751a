package graftbench

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import graft.{Pipeline, SparkEntry}
import graft.extract.HtmlText
import graft.fixtures.Corpus
import graft.link.Linker
import graft.merge.MergeSources
import graft.metrics.TaskCounters
import graft.schema.KgSchema
import graft.store.GraphStore
import graft.textops.DedupOps
import graft.triples.Triples
import Common._

/** Task counters summed per job group. The harness sets one job group per
  * span; jobs with no group land under "". The listener also times its own
  * callbacks: that is the tracing overhead it adds to the listener bus. */
final class LayerListener extends SparkListener {
  import LayerListener._
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Array[Long]]()
  @volatile var selfNs = 0L

  private def acc(g: String): Array[Long] = groups.computeIfAbsent(g, _ => new Array[Long](N))

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val t0 = System.nanoTime()
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    js.stageIds.foreach(stageGroup.putIfAbsent(_, g))
    selfNs += System.nanoTime() - t0
  }

  override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
    val t0 = System.nanoTime()
    val m = te.taskMetrics
    if (m != null) {
      val v = Array(m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.executorDeserializeTime, m.shuffleReadMetrics.fetchWaitTime,
        m.diskBytesSpilled + m.memoryBytesSpilled, m.shuffleWriteMetrics.bytesWritten, 1L)
      val a = acc(stageGroup.getOrDefault(te.stageId, ""))
      val tot = acc(Total)
      a.synchronized { for (i <- 0 until N) a(i) += v(i) }
      tot.synchronized { for (i <- 0 until N) tot(i) += v(i) }
    }
    selfNs += System.nanoTime() - t0
  }

  /** Counter vector of one group, or of every task when `g` is Total. */
  def get(g: String): Array[Long] = {
    val a = groups.get(g)
    if (a == null) new Array[Long](N) else a.synchronized(a.clone())
  }
  /** Sum over every group whose name starts with `prefix`. */
  def sumPrefix(prefix: String): Array[Long] = {
    val out = new Array[Long](N)
    groups.forEach { (g, a) =>
      if (g != Total && g.startsWith(prefix)) a.synchronized { for (i <- 0 until N) out(i) += a(i) }
    }
    out
  }
}

object LayerListener {
  val Total = "\u0000total"
  // counter slots: cpu ns, run ms, gc ms, deserialize ms, fetch wait ms,
  // spill bytes, shuffle write bytes, tasks
  val CpuNs = 0; val RunMs = 1; val GcMs = 2; val DeserMs = 3; val FetchMs = 4
  val SpillB = 5; val ShufWB = 6; val Tasks = 7; val N = 8
}

/** Spans kept in memory and written when the harness ends. A span's job
  * group is its name, so the listener attributes its tasks to it. */
final class Spans(val traceId: String, spark: SparkSession) {
  import Spans.Span
  private val done = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var next = 0

  def apply[T](name: String)(f: => T): T = {
    val id = next; next += 1
    val parent = stack.headOption.getOrElse(-1)
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    sc.setJobGroup(name, name)
    stack = id :: stack
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try f
    finally {
      val durS = secondsSince(t0)
      TaskCounters.drain(sc)
      done += Span(id, name, parent, startMs, durS)
      stack = stack.tail
      if (prevGroup == null) sc.clearJobGroup() else sc.setJobGroup(prevGroup, prevGroup)
    }
  }

  def seconds(name: String): Double = done.filter(_.name == name).map(_.durS).sum
  def topLevel: Seq[Span] = done.filter(_.parent < 0).toSeq

  def write(path: String, l: LayerListener): Unit = {
    val lines = done.sortBy(_.id).map { s =>
      val c = l.get(s.name)
      json(ListMap("trace_id" -> traceId, "span_id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ms" -> s.startMs, "end_ms" -> (s.startMs + (s.durS * 1000).toLong),
        "dur_s" -> s.durS, "task_cpu_s" -> c(LayerListener.CpuNs) / 1e9,
        "shuffle_write_mb" -> c(LayerListener.ShufWB) / 1e6, "tasks" -> c(LayerListener.Tasks)))
    }
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), lines.mkString("", "\n", "\n"))
  }
}

object Spans {
  final case class Span(id: Int, name: String, parent: Int, startMs: Long, durS: Double)
}

/** The traced run. A `Pipeline.run` builds a store with the listener
  * attached (whole-build Spark and codegen totals); then each layer's
  * public functions are called serially, on inputs read from that store,
  * each call inside its own span and job group; then the headline queries
  * run in rounds, each call a span. */
object Trace {
  import LayerListener._

  /** The 15 headline queries `graft.Bench` times. */
  val Headline: Seq[String] = Seq(
    "q_triples", "q_mentions", "q_cc", "q_merge_edges", "q_pair_dedup",
    "q_top1_per_group", "q_set_union", "q_dedup_exact", "q_ngram_jaccard",
    "q_minhash_neardup", "q_knn_cosine", "q_knn_lsh", "q_knn_ivf",
    "q_doc_stats", "q_events_hourly")

  /** Closed loop, one client: each headline query in turn, the next call
    * only after the previous result is consumed. The consumer reads every
    * column: one aggregate per call yields the row count and a content
    * digest. Rounds repeat until `seconds` have passed, at least
    * `minRounds` times. */
  def queryRounds(spark: SparkSession, input: String, seconds: Double, minRounds: Int,
                  span: Spans, l: LayerListener): Seq[Seq[Map[String, Any]]] = {
    val t0 = System.nanoTime()
    val rounds = ArrayBuffer.empty[Seq[Map[String, Any]]]
    while (rounds.size < minRounds || secondsSince(t0) < seconds) {
      val round = rounds.size
      rounds += Headline.map { q =>
        val name = s"query.$q.r$round"
        try {
          val (float, (rows, dig)) = span(name) {
            val df = SparkEntry.queries(q)(spark, input)
            (hasFloat(df.schema), digest(df))
          }
          val c = l.get(name)
          Map[String, Any]("q" -> q, "s" -> span.seconds(name), "rows" -> rows, "digest" -> dig,
            "float" -> float, "cpu_s" -> cpuS(c), "shuffle_mb" -> mb(c(ShufWB)))
        } catch { case e: Throwable => Map("q" -> q, "error" -> Main.errorOf(e)) }
      }
    }
    rounds.toSeq
  }

  private def mb(b: Long): Double = b / 1e6
  private def cpuS(c: Array[Long]): Double = c(CpuNs) / 1e9

  /** Mirrors the pipeline's corpus amplification (`mult` url-distinct
    * replicas per page) so the extract layer sees the workload's pages. */
  private def amplify(pages: DataFrame, mult: Int): DataFrame =
    if (mult <= 1) pages
    else pages.withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
      .select(concat(col("url"), lit("#"), col("rep")).as("url"),
        col("warc_ts"), col("html"), col("text"), col("lang"))

  /** The pipeline's sink projection: non-key columns fold into a string map. */
  private def asEdges(df: DataFrame): DataFrame = {
    val keys = Seq("subject_id", "relation_label", "object_id")
    val props = df.columns.filterNot(keys.contains)
    val m = if (props.isEmpty) map().cast("map<string,string>")
      else map(props.flatMap(k => Seq(lit(k), col(s"`$k`").cast("string"))): _*)
    df.select(keys.map(col) :+ m.as("properties"): _*)
  }

  private def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean)
  }

  def run(spark: SparkSession, a: Main.Args, cpus: Int): Map[String, Any] = {
    val input = a("input"); val store = a("store"); val mult = a.int("mult")
    val l = new LayerListener
    spark.sparkContext.addSparkListener(l)
    val span = new Spans(a("trace_id"), spark)
    val calibPre = TaskCounters.calibrate()

    // Whole-build totals: listener and codegen counters around one cold build.
    val (cg0, _) = codegen()
    val (r, traceBuildS) = timed(Pipeline.run(spark, input, store, partitions = cpus, mult = mult))
    TaskCounters.drain(spark.sparkContext)
    val (cg1, cgMeanMs) = codegen()
    val build = l.get(Total)
    val buildOverheadS = l.selfNs / 1e9

    def read(stage: String): DataFrame = GraphStore.readLatest(spark, store, stage).get
    // The traced build's output, gated against the same goldens as an
    // untraced build. Computed outside every span.
    val buildOut = Map[String, Any]("n_pages" -> r.nPages, "n_edges" -> r.nTriples,
      "n_nodes" -> r.nNodes, "audit_mismatches" -> r.auditMismatches,
      "edges_digest" -> digest(read("edges"))._2, "nodes_digest" -> digest(read("nodes"))._2)
    val canon = read("canonical_ids")
    val extracted = read("extracted")
    val mentions = read("mentions")
    val pageSets = read("pagesets")
    val edges = read("edges")
    val nodes = read("nodes")
    val rows = scala.collection.mutable.Map.empty[String, Long]

    rows("extract") = span("extract") {
      digest(amplify(Corpus.pages(spark, input).repartition(cpus, xxhash64(col("url"))), mult)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text")))._1
    }
    rows("link") = span("link") {
      digest(Linker.mentions(extracted.select("url", "text"), Corpus.aliasDict(spark, input)))._1
    }
    rows("cc") = span("cc")(digest(Corpus.canonicalIds(spark, input))._1)
    span("triples.pagesets")(digest(Triples.perPageEntitySets(mentions, canon)))
    span("triples.extract")(digest(Triples.extractFromSets(pageSets, canon)))
    val salts = if (r.nPages >= Triples.SaltPageThreshold) Triples.DefaultEvidenceSalts else 1
    val evidence = span("triples.evidence") {
      val ev = Triples.evidenceFromSets(pageSets, canon, salts = salts).localCheckpoint(true)
      ev.count(); ev
    }

    def persisted(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK); p.count(); p
    }
    val (lf, ef, dof, dlf, fb) = span("fixtures.shared_facts") {
      val lf = persisted(Corpus.lineFacts(spark, input, Some(canon)))
      val dof = persisted(Corpus.docFacts(spark, input))
      (lf, persisted(Corpus.eventFacts(spark, input)), dof,
        persisted(Corpus.docLangFactsFrom(dof)),
        persisted(Corpus.followedByEdges(spark, input)))
    }
    // The edge families as `graft.Bench`'s family timing calls them, plus
    // co_ordered (page sets); the three co-occurrence families apart.
    val families: Seq[(String, () => DataFrame)] = Seq(
      "placed" -> (() => Corpus.placedEdges(spark, input)),
      "contains" -> (() => Corpus.containsFrom(lf)),
      "of_type" -> (() => Corpus.ofTypeEdges(spark, input)),
      "performed" -> (() => Corpus.performedFrom(ef)),
      "written_in" -> (() => Corpus.writtenInFrom(dof)),
      "from_source" -> (() => Corpus.fromSourceFrom(dof)),
      "fulfills" -> (() => Corpus.fulfillsFrom(lf)),
      "supplies" -> (() => Corpus.supplyFrom(lf)),
      "in_region" -> (() => Corpus.inRegionEdges(spark, input)),
      "branded_as" -> (() => Corpus.brandedAsEdges(spark, input)),
      "in_segment" -> (() => Corpus.inSegmentEdges(spark, input)),
      "from_nation" -> (() => Corpus.fromNationEdges(spark, input)),
      "rated" -> (() => Corpus.ratedFrom(lf)),
      "co_ordered" -> (() => Triples.coOrderedFromSets(pageSets, canon)),
      "near_dup_of" -> (() => DedupOps.minhashNearDupPairsFromSigs(dof)
        .select(concat(lit("DOC:"), col("id1")).as("subject_id"),
          lit("near_dup_of").as("relation_label"),
          concat(lit("DOC:"), col("id2")).as("object_id"),
          col("common"), col("size1"), col("size2"))),
      "cites" -> (() => Corpus.citesFrom(dof)),
      "touched" -> (() => Corpus.touchedEdges(spark, input)),
      "peer_of" -> (() => Corpus.peerOfEdges(spark, input)),
      "next_order" -> (() => Corpus.nextOrderEdges(spark, input)),
      "returned" -> (() => Corpus.returnedFrom(lf)),
      "ships_to" -> (() => Corpus.shipsToFrom(lf)),
      "similar_to" -> (() => Corpus.similarToFrom(dof)),
      "followed_by" -> (() => fb),
      "located_in_region" -> (() => Corpus.locatedInRegionEdges(spark, input)),
      "best_supplied_by" -> (() => Corpus.bestSupplierFrom(lf)),
      "closest_to" -> (() => Corpus.closestPartEdges(spark, input)),
      "in_family" -> (() => Corpus.inFamilyEdges(spark, input)),
      "variant_of" -> (() => Corpus.variantOfEdges(spark, input)),
      "regulates" -> (() => Corpus.regulatesFrom(fb)),
      "prefers" -> (() => Corpus.prefersFrom(ef)),
      "bought_from" -> (() => Corpus.boughtFromFrom(lf)),
      "representative_order" -> (() => Corpus.representativeOrderEdges(spark, input)),
      "charged_with" -> (() => Corpus.chargedWithFrom(lf)),
      "dominant_lang" -> (() => Corpus.dominantLangFrom(dlf)),
      "handles" -> (() => Corpus.handlesFrom(lf)))
    val cooccur: Seq[(String, () => DataFrame)] = Seq(
      "shares_part" -> (() => Corpus.sharesPartFrom(lf)),
      "co_purchased_with" -> (() => Corpus.coPurchasedFrom(lf)),
      "bundle_with" -> (() => Corpus.bundleWithFrom(lf)))
    span("fixtures.families")(families.foreach { case (n, f) =>
      span(s"fixtures.families.$n")(digest(f()))
    })
    span("fixtures.cooccur")(cooccur.foreach { case (n, f) =>
      span(s"fixtures.cooccur.$n")(digest(f()))
    })
    span("fixtures.nodes") {
      val nodeFamilies: Seq[(String, () => DataFrame)] = Seq(
        "typed_entities" -> (() => Triples.nodesTyped(
          Corpus.relationalEntityNodes(spark, input), Corpus.nodeAttrs(spark, input))),
        "order" -> (() => Corpus.orderNodes(spark, input)),
        "document" -> (() => Corpus.documentNodesFrom(dof)),
        "ptype" -> (() => Corpus.ptypeNodes(spark, input)),
        "user" -> (() => Corpus.userNodesFrom(ef)),
        "event_type" -> (() => Corpus.eventTypeNodesFrom(ef)),
        "language" -> (() => Corpus.languageNodesFrom(dlf)),
        "source" -> (() => Corpus.sourceNodesFrom(dlf)),
        "supplier" -> (() => Corpus.supplierNodes(spark, input)),
        "region" -> (() => Corpus.regionNodes(spark, input)),
        "brand" -> (() => Corpus.brandNodes(spark, input)),
        "segment" -> (() => Corpus.segmentNodes(spark, input)))
      nodeFamilies.foreach { case (n, f) => span(s"fixtures.nodes.$n")(digest(f())) }
    }

    span("merge")(digest(MergeSources.mergeAll(
      Seq(evidence, Corpus.ledgerFrom(lf)),
      keys = Seq("subject_id", "relation_label", "object_id"),
      rules = Seq(MergeSources.PipeSetUnion("sources"), MergeSources.PipeSetUnion("evidence")))))

    span("schema.validate")(KgSchema.validateConfig())
    span("schema.semijoin")(digest(KgSchema.dropBadRelationships(edges, nodes)))

    val scratchStore = Paths.get(store).resolveSibling("trace_commit_store").toString
    span("store.commit")(GraphStore.commit(spark, scratchStore, "edges", edges,
      partitionByCols = Seq("bucket"), inputFp = "trace"))
    deleteTree(Paths.get(scratchStore))
    val edgeFiles = treeFiles(Main.manifestOf(store, "edges").getParent.resolve("data"), ".parquet")
    span("store.read")(Pipeline.Stages.foreach { st =>
      GraphStore.readLatest(spark, store, st).foreach(_.count())
    })

    // Driver-side planning alone: every family frame, the union, and its
    // physical plan; nothing executes.
    span("driver.plan") {
      val all = (families ++ cooccur).map { case (_, f) => asEdges(f()) }
      all.reduce(_ unionByName _).queryExecution.executedPlan
    }
    Seq(lf, ef, dof, dlf, fb).foreach(_.unpersist(false))

    val layers = Seq("extract", "link", "cc", "triples.", "fixtures.", "merge",
      "schema.", "store.", "driver.")
    val serialSum = span.topLevel.map(_.durS).sum

    val rounds = queryRounds(spark, input, a.double("seconds"), a.int("min_rounds"), span, l)
    val calibPost = TaskCounters.calibrate()
    span.write(a("spans"), l)
    val layerCpu = layers.map(p => cpuS(l.sumPrefix(p))).sum
    def g(name: String) = l.get(name)
    Map("build" -> buildOut, "layer_rows" -> rows.toMap, "rounds" -> rounds,
      "retained_heap_mb" -> retainedHeapMb(),
      "calib_ms" -> Seq(calibPre, calibPost), "metrics" -> Map(
      "extract.s" -> span.seconds("extract"),
      "extract.cpu_s" -> cpuS(g("extract")),
      "link.s" -> span.seconds("link"),
      "link.cpu_s" -> cpuS(g("link")),
      "link.shuffle_mb" -> mb(g("link")(ShufWB)),
      "cc.s" -> span.seconds("cc"),
      "triples.pagesets_s" -> span.seconds("triples.pagesets"),
      "triples.pagesets_shuffle_mb" -> mb(g("triples.pagesets")(ShufWB)),
      "triples.extract_s" -> span.seconds("triples.extract"),
      "triples.evidence_s" -> span.seconds("triples.evidence"),
      "triples.evidence_shuffle_mb" -> mb(g("triples.evidence")(ShufWB)),
      "triples.cpu_s" -> cpuS(l.sumPrefix("triples.")),
      "merge.s" -> span.seconds("merge"),
      "merge.shuffle_mb" -> mb(g("merge")(ShufWB)),
      "fixtures.shared_facts_s" -> span.seconds("fixtures.shared_facts"),
      "fixtures.families_s" -> span.seconds("fixtures.families"),
      "fixtures.families_cpu_s" -> cpuS(l.sumPrefix("fixtures.families")),
      "fixtures.families_shuffle_mb" -> mb(l.sumPrefix("fixtures.families")(ShufWB)),
      "fixtures.cooccur_s" -> span.seconds("fixtures.cooccur"),
      "fixtures.cooccur_cpu_s" -> cpuS(l.sumPrefix("fixtures.cooccur")),
      "fixtures.cooccur_shuffle_mb" -> mb(l.sumPrefix("fixtures.cooccur")(ShufWB)),
      "fixtures.nodes_s" -> span.seconds("fixtures.nodes"),
      "schema.validate_s" -> span.seconds("schema.validate"),
      "schema.semijoin_s" -> span.seconds("schema.semijoin"),
      "schema.semijoin_shuffle_mb" -> mb(g("schema.semijoin")(ShufWB)),
      "store.commit_s" -> span.seconds("store.commit"),
      "store.files" -> edgeFiles,
      "store.read_s" -> span.seconds("store.read"),
      "driver.plan_s" -> span.seconds("driver.plan"),
      "codegen.compiles" -> (cg1 - cg0),
      "codegen.compile_ms" -> (cg1 - cg0) * cgMeanMs,
      "spark.task_cpu_s" -> cpuS(build),
      "spark.task_run_s" -> build(RunMs) / 1e3,
      "spark.gc_s" -> build(GcMs) / 1e3,
      "spark.deser_s" -> build(DeserMs) / 1e3,
      "spark.fetch_wait_s" -> build(FetchMs) / 1e3,
      "spark.spill_mb" -> mb(build(SpillB)),
      "spark.shuffle_write_mb" -> mb(build(ShufWB)),
      "trace.build_s" -> traceBuildS,
      "trace.serial_sum_s" -> serialSum,
      "trace.overlap_ratio" -> serialSum / traceBuildS,
      "trace.layer_cpu_s" -> layerCpu,
      "trace.cpu_coverage" -> layerCpu / cpuS(build),
      "trace.overhead_s" -> buildOverheadS))
  }
}
