package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.extract.HtmlText
import graft.fixtures.Corpus
import graft.link.Linker
import graft.schema.{Families, KgSchema}
import graft.store.GraphStore
import graft.triples.Triples

/** The end-to-end KG-construction pipeline (north rule):
  * Page table → (1) deterministic text extraction with xxhash64 per-row
  * audit → (2) mention detection + broadcast-dictionary linking →
  * (3) triple extraction + broadcast canonicalization → (4) connected-
  * components canonical-id resolution → partitioned graph store (nodes
  * bucketed by id hash, edges by subject hash), every stage committed
  * as a resumable snapshot with per-partition lineage.
  *
  * Scale posture: pages are explicitly repartitioned by xxhash64(url)
  * so downstream per-page work (extract, n-gram explode, co-mention
  * join) is uniformly spread and the same partitioning is reused until
  * the triple distinct; the only big shuffles are that distinct and the
  * CC rounds (both AQE-managed).
  */
object Pipeline {

  /** One stage's attribution row: wall seconds plus the task-counter
    * deltas of the mark window (Bench serializes these into the bench
    * JSON so the driver artifact is self-attributing). */
  final case class StageMark(
      name: String, wallS: Double, taskRunS: Double, taskCpuS: Double,
      shufWMb: Double, scanMb: Double, rows: Long)

  /** `auditMismatches` is 0 by construction: a page whose extraction
    * misses its reference text fails the extract write itself, so a run
    * that returns a Result has none. */
  final case class Result(
      nPages: Long, nTriples: Long, nNodes: Long,
      auditMismatches: Long, seconds: Double, triplesPerSec: Double,
      pagesPerSec: Double, stages: Seq[StageMark] = Nil)

  /** Deterministic corpus amplification for scaling runs: `mult`
    * replicas per page with distinct urls (identical text — the triple
    * set stays the base set after distinct, but every per-page stage
    * does mult× the work, which is what a 10^12-document corpus looks
    * like relative to its dictionary). */
  private def amplify(pages: org.apache.spark.sql.DataFrame, mult: Int) =
    if (mult <= 1) pages
    else pages
      .withColumn("rep", explode(sequence(lit(0), lit(mult - 1))))
      .select(
        concat(col("url"), lit("#"), col("rep")).as("url"),
        col("warc_ts"), col("html"), col("text"), col("lang"))

  /** Scan-size cap for persisting a hot dimension table (see `run`). */
  private val DimPersistMaxBytes = 1024L << 20

  /** Stage names the pipeline commits — the retention sweep below and
    * external tooling share this list. */
  val Stages: Seq[String] = Seq("canonical_ids", "extracted", "mentions",
    "pagesets", "triples", "nodes", "edges")

  /** Plan-audit hook: when SPARK_GRAFT_PLAN_DIR is set, write the
    * formatted physical plan of a stage frame there before it executes
    * (debug-only; the bench never sets it). */
  private def dbgPlan(name: String, df: DataFrame): DataFrame = {
    sys.env.get("SPARK_GRAFT_PLAN_DIR").foreach { d =>
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$d/$name.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
    }
    df
  }

  def run(spark: SparkSession, sfDir: String, storeBase: String,
          partitions: Int, mult: Int = 1, retainSnapshots: Int = 2): Result = {
    // Construction-time schema gate (reference pydantic/enum checks):
    // a misdeclared type/prop/lineage fails HERE with the full typed
    // error list, not as an AnalysisException deep inside a builder.
    KgSchema.validateConfig()
    // Catalyst constraint propagation is O(plan²)-ish on the ~40-family
    // union this pipeline plans, and buys nothing here (no filters to
    // infer — every family scans its source fully). Off for the scope
    // of this run only; queries keep the session default. Same-window
    // A/B at sf0.1/32t: pipeline 50.6 s → 48.2 s, identical outputs.
    val prevCP = spark.conf.get("spark.sql.constraintPropagation.enabled")
    spark.conf.set("spark.sql.constraintPropagation.enabled", "false")
    val t0 = System.nanoTime()
    var tLast = t0
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    var cpuLast = osBean.getProcessCpuTime
    // Per-stage Spark task counters (attribution discipline: a stage
    // wall that moves between runs is explained by its own counters —
    // task run/CPU time, shuffle and scan volume — not by guessing at
    // host variance). Stages that overlap via the async futures are
    // attributed to the mark window in which their Spark stages
    // COMPLETE; the wall/cpu split plus these volumes is what separates
    // "the host was slow" (run time up, volumes flat) from "the code
    // did more" (volumes up). The marks accumulate into Result.stages
    // so the bench JSON carries them verbatim.
    val counters = new graft.metrics.TaskCounters
    spark.sparkContext.addSparkListener(counters)
    // Completed right after the pagesets commit; failed by any throw
    // before it, so no future chained on it waits forever.
    val pageSetsP = scala.concurrent.Promise[(DataFrame, Int)]()
    // Every frame the run persists is released in the finally, whether
    // the run commits or throws. lineFacts is persisted inside a future
    // that can complete after a throw, so it is released through its
    // promise; the others are recorded as they are persisted.
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = {
      persisted += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val lineFactsP = scala.concurrent.Promise[DataFrame]()
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    try {
      var cLast = counters.snapshot
      val marks = scala.collection.mutable.ArrayBuffer.empty[StageMark]
      def mark(stage: String): Unit = {
        // wall clock FIRST: the listener-bus drain (up to its 10 s
        // timeout) is metrics-collection latency, not stage work — only
        // the counter snapshot below needs the drained bus (ADVICE r5)
        val now = System.nanoTime()
        val cpuNow = osBean.getProcessCpuTime
        graft.metrics.TaskCounters.drain(spark.sparkContext)
        val c = counters.snapshot
        val d = c.zip(cLast).map { case (a, b) => a - b }
        println(f"[pipeline] $stage wall=${(now - tLast) / 1e9}%.1fs " +
          f"cpu=${(cpuNow - cpuLast) / 1e9}%.1fs " +
          f"taskRun=${d(0) / 1e3}%.1fs taskCpu=${d(1) / 1e9}%.1fs " +
          f"shufW=${d(2) / 1e6}%.0fMB shufR=${d(3) / 1e6}%.0fMB " +
          f"scan=${d(4) / 1e6}%.0fMB rows=${d(5)}")
        marks += StageMark(stage, (now - tLast) / 1e9, d(0) / 1e3, d(1) / 1e9,
          d(2) / 1e6, d(4) / 1e6, d(5))
        tLast = now
        cpuLast = cpuNow
        cLast = c
      }

      // Per-stage input fingerprints: a changed corpus or parameterization
      // invalidates downstream committed snapshots on resume (the manifest
      // records the fp; GraphStore recomputes on mismatch).
      val fpCorpus = s"corpus;sfDir=$sfDir;mult=$mult"
      val fpExtract = s"extract-v3;$fpCorpus"
      val fpMentions = s"mentions-trie-v2;$fpExtract;dict=aliasDict"
      val fpCanon = s"canon-cc-v1;sfDir=$sfDir"
      val fpTriples = s"triples-v1;$fpMentions;$fpCanon"
      // v6 (round 4 final): the store persists the FULL declared schema —
      // all 14 node types (complete relational entity universes plus the
      // name-family vocabulary, not only text-mentioned ones) and all 40
      // edge families (reference edge-vocabulary parity).
      val fpNodes = s"nodes-typed-v6;$fpCanon;attrs=nodeAttrs;full-univ;" +
        "+order+doc+ptype+fam+user+evt+lang+src+supp+region+brand+seg"
      val fpEdges = s"edges-fused-v8;$fpMentions;$fpCanon;all-40-families-v1"

      // Stage-commit pipelining: independent stages run as concurrent
      // Spark jobs (the scheduler interleaves their tasks). Each commit
      // is synchronous — the data write, then the manifest carrying its
      // lineage — so a kill leaves only manifest-less corpses that resume
      // recomputes.

      // Stage 3/4 input: the CC-derived canonicalization table depends
      // only on the source tables — overlap it with extract+mentions.
      val canonF = Future {
        GraphStore.getOrCompute(spark, storeBase, "canonical_ids",
          inputFp = fpCanon) {
          Corpus.canonicalIds(spark, sfDir)
        }
      }

      // Hot DIMENSION tables: the 20+ family builders each scan the base
      // tables independently (Spark has no cross-subtree scan dedup);
      // persisting turns ~20 re-scans into one scan + cache hits via
      // CacheManager plan matching. persist() is lazy, so a resumed run
      // (committed snapshots fresh) never materializes them. The persist
      // is SIZE-GATED (r4 Wrong #2): a table is cached only when its scan
      // estimate fits the cap, so at a 100× relational scale-up the
      // fact-shaped tables fall out of the cache automatically and stream
      // instead. `lineitem` is not listed at all — after the lineFacts
      // fusion it has exactly ONE consumer; `documents` likewise (the
      // docFacts fusion leaves only the touched-edges endpoint list).
      Seq("orders", "customer", "part", "events")
        .map(n => Corpus.table(spark, sfDir, n))
        .filter(_.queryExecution.optimizedPlan.stats.sizeInBytes <= DimPersistMaxBytes)
        .foreach(persist)
      // Shared fact-grain aggregates (the lineFacts discipline applied to
      // the other two fact-shaped inputs): eventFacts is the (user,
      // event_type) grain of the event stream — four families (user /
      // event-type nodes, performed / prefers edges) are marginal rollups
      // over it; docFacts is ONE document-corpus scan computing metadata
      // + fingerprint + SimHash + shingle/MinHash signatures for its
      // seven consumers; docLangFacts rolls docFacts up to (source, lang).
      // followed_by is both its own family and the regulates input.
      // All persisted lazily — a resumed run never materializes them.
      val eventFacts = persist(Corpus.eventFacts(spark, sfDir))
      val docFacts = persist(Corpus.docFacts(spark, sfDir))
      val docLangFacts = persist(Corpus.docLangFactsFrom(docFacts))
      val followedBy = persist(Corpus.followedByEdges(spark, sfDir))
      // The SHARED line-fact projection (r4 Next #2): ~14 edge families
      // all reduce the same enriched lineitem (⨝ orders ⨝ customer ⨝
      // part ⨝ canon, dims broadcast). Built as a continuation of the
      // canonicalization future and persisted lazily.
      val lineFactsF: Future[DataFrame] = lineFactsP.completeWith(canonF.map { canon =>
        Corpus.lineFacts(spark, sfDir, Some(canon))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      }).future
      // Each registry input resolved to this run's shared frame, ready
      // as soon as the frame exists.
      def source[A](in: Families.Input[A]): Future[A] = in match {
        case Families.Dims => Future.successful((spark, sfDir))
        case Families.LineFacts | Families.RawLineFacts => lineFactsF
        case Families.DocFacts => Future.successful(docFacts)
        case Families.DocLangFacts => Future.successful(docLangFacts)
        case Families.EventFacts => Future.successful(eventFacts)
        case Families.FollowedBy => Future.successful(followedBy)
        case Families.PageSets =>
          for { (ps, _) <- pageSetsP.future; c <- canonF } yield (ps, c)
      }

      // The NODES stage depends on none of extract/mentions/canon —
      // launched here as a concurrent commit whose jobs back-fill the
      // extract and mentions stages' idle task slots (those two stages
      // keep well under half the slots busy). Awaited before the edges
      // stage, which semi-joins against the committed node ids.
      val nodesF = Future {
        GraphStore.getOrCompute(spark, storeBase, "nodes",
            partitionByCols = Seq("bucket"), inputFp = fpNodes) {
          // Multi-adapter node merge (reference: one adapter per source —
          // uniprot/drug/go/... — all landing in one typed node table):
          // the COMPLETE relational entity universes + every registry node
          // family, each schema-declared in KgSchema and conformance-
          // checked by the same violations machinery. Complete universes
          // also guarantee every declared edge family survives
          // skip-bad-relationships intact (store census == graph census).
          val plain = Families.nodes
            .map { case f: Families.NodeFamily[a] =>
              f.build(Await.result(source(f.input), Duration.Inf)) }
            .map(_.withColumn("props_arr", map().cast("map<string,array<string>>"))
              .withColumn("embedding", lit(null).cast("array<float>")))
            .reduce(_ unionByName _)
          // One exchange on the bucket key before the partitioned write:
          // without it every upstream partition of the 12-family union
          // writes its own file per bucket directory (~270 files of
          // ~16 KB at sf0.1), and every read of the snapshot pays the
          // per-file open/close. After: one task per occupied bucket, 32
          // right-sized files.
          Triples.nodesTyped(Corpus.relationalEntityNodes(spark, sfDir),
              Corpus.nodeAttrs(spark, sfDir))
            .unionByName(plain)
            .withColumn("bucket", pmod(xxhash64(col("id")), lit(32)))
            .repartition(32, col("bucket"))
        }
      }

      // One future per registry edge family, on its input, building the
      // family's frame through the uniform sink projection (declared
      // props → string-encoded properties map). Building a frame runs the
      // ANALYZER on its plan — single-threaded driver CPU — so the ~35
      // frames are analyzed in parallel as their inputs appear instead of
      // serially on the edges-plan await path. The `eager` families run
      // Spark actions inside their builders and are submitted first: their
      // jobs back-fill the extract/mentions stages' idle task slots. Resume
      // discipline: when the edges snapshot is already fresh, no future is
      // started and nothing here materializes. Job labels are thread-local,
      // so each family's jobs stay attributable.
      val edgesFresh =
        GraphStore.latestManifest(storeBase, "edges").map(_.inputFp).contains(fpEdges)
      def edgeFrame[A](f: Families.EdgeFamily[A]): Future[DataFrame] =
        source(f.input).map { in =>
          spark.sparkContext.setJobDescription(s"edges: ${f.label}")
          try KgSchema.edgeRows(f.label, f.build(in))
          finally spark.sparkContext.setJobDescription(null)
        }
      val famFs: Seq[Future[DataFrame]] = if (edgesFresh) Nil else {
        val launched = Families.edges.sortBy(!_.eager)
          .map(f => f.label -> edgeFrame(f)).toMap
        Families.edges.map(f => launched(f.label))
      }

      // Stage 1: extract (+ per-row audit vs the reference text column).
      // Explicit url-hash repartition happens BEFORE amplification: the
      // shuffle moves only the base corpus (replicas explode map-side in
      // place, 16× less shuffled bytes at mult=16) and per-page work stays
      // uniformly spread because replicas of a page are interchangeable.
      // The audit runs inside the write: a page whose extraction misses
      // its reference hash raises, failing the write before the manifest,
      // so a corrupt extraction is never committed, let alone resumed.
      val extracted = GraphStore.getOrCompute(spark, storeBase, "extracted",
          inputFp = fpExtract) {
        amplify(Corpus.pages(spark, sfDir)
            .repartition(partitions, xxhash64(col("url"))), mult)
          .select(
            col("url"), col("warc_ts"), col("lang"),
            HtmlText.htmlText(col("html")).as("text"),
            xxhash64(col("text")).as("ref_hash"))
          .withColumn("text_hash",
            when(xxhash64(col("text")) === col("ref_hash"), xxhash64(col("text")))
              .otherwise(raise_error(concat(lit("byte-identity audit failed on "), col("url")))))
      }
      mark("extract")
      // The committed row count; decides the hub-salting threshold below.
      val nPages = GraphStore.latestManifest(storeBase, "extracted").get.rows

      // canonF has long resolved by now (it only needs the part table);
      // binding it here keeps the downstream code shape unchanged. A
      // lineFacts frame that cannot be built fails the run here too.
      val canon = Await.result(canonF, Duration.Inf)
      Await.result(lineFactsF, Duration.Inf)

      // Stage 2: mentions (broadcast trie; fact side never shuffles).
      val mentions = GraphStore.getOrCompute(spark, storeBase, "mentions",
          inputFp = fpMentions) {
        Linker.mentions(extracted.select("url", "text"), Corpus.aliasDict(spark, sfDir))
      }
      mark("mentions")

      // Shared intermediate: per-page canonical entity sets — computed
      // (scan + group of the big mentions table) ONCE, consumed by both
      // the triple and the evidence/edge stages.
      val pageSets = GraphStore.getOrCompute(spark, storeBase, "pagesets",
          inputFp = s"pagesets-v1;$fpMentions;$fpCanon") {
        Triples.perPageEntitySets(mentions, canon)
      }
      // Hub-skew guard: past the page threshold, witness aggregation
      // runs two-phase salted (value-hash cells) so a popular edge's
      // fan-in spreads over 8 reducers before the bounded cap applies —
      // bit-identical to the single-phase path by merge associativity.
      pageSetsP.success((pageSets,
        if (nPages >= Triples.SaltPageThreshold) Triples.DefaultEvidenceSalts
        else 1))
      // Triples is a reporting artifact (edges re-derive with evidence),
      // so it runs concurrently with the nodes stage.
      val triplesF = Future {
        GraphStore.getOrCompute(spark, storeBase, "triples",
          inputFp = fpTriples) {
          Triples.extractFromSets(pageSets, canon)
        }
      }
      // The edges union PLAN: the evidence fusion chains on the pagesets
      // commit + lineFacts, every other family frame was already built in
      // a parallel future above (ALL 40 declared edge families — KgSchema
      // — ride the same store path; the persisted graph IS the declared
      // schema, not a subset; store census == q_graph_census, spec'd).
      // The union itself folds as a balanced tree: a left fold re-analyzes
      // a linearly growing plan per step (quadratic in family count) for
      // the same flattened Union the optimizer produces either way.
      val edgesPlanF: Future[DataFrame] = if (edgesFresh) null else {
        import graft.merge.MergeSources
        // The fused frame carries both `ordered` and `located_in` rows;
        // the two declare the same props. A count one source lacks is 0.
        val fusedF = for { (ps, salts) <- pageSetsP.future; lf <- lineFactsF }
          yield KgSchema.edgeRows("ordered", MergeSources.mergeAll(
            Seq(Triples.evidenceFromSets(ps, canon, salts = salts),
              Corpus.ledgerFrom(lf)),
            keys = Seq("subject_id", "relation_label", "object_id"),
            rules = Seq(
              MergeSources.PipeSetUnion("sources"),
              MergeSources.PipeSetUnion("evidence")))
            .withColumn("n_pages", coalesce(col("n_pages"), lit(0L)))
            .withColumn("n_lines", coalesce(col("n_lines"), lit(0L))))
        def unionTree(dfs: Seq[DataFrame]): DataFrame =
          if (dfs.size == 1) dfs.head
          else unionTree(dfs.grouped(2).map(g =>
            if (g.size == 2) g(0).unionByName(g(1)) else g(0)).toSeq)
        for { fused <- fusedF; rest <- Future.sequence(famFs) }
          yield unionTree(fused +: rest)
      }
      val nodes = Await.result(nodesF, Duration.Inf)
      mark("nodes")
      // Edges: multi-source fusion (web co-mentions + order ledger —
      // sources/evidence set-union, reference ppi_adapter.py:1268-1303),
      // then skip-bad-relationships at the sink (reference
      // biocypher_config skip_bad_relationships) = endpoints must exist.
      GraphStore.getOrCompute(spark, storeBase, "edges",
          partitionByCols = Seq("bucket"), inputFp = fpEdges) {
        dbgPlan("edges", KgSchema.dropBadRelationships(
            Await.result(edgesPlanF, Duration.Inf), nodes)
          .withColumn("bucket", pmod(xxhash64(col("subject_id")), lit(32)))
          // One exchange on the bucket key before the partitioned write:
          // the ~40-family union otherwise leaves ~170 writing tasks that
          // each open a file per bucket directory — 5,439 files averaging
          // 7 KB at sf0.1, paid again by every read of the snapshot.
          // After: one task per occupied bucket, 32 right-sized files.
          // Costs one shuffle of the final edge set (~40 MB
          // zstd-equivalent), which the file-open savings repay.
          .repartition(32, col("bucket")))
      }
      mark("edges")

      Await.result(triplesF, Duration.Inf)
      val nTriples = GraphStore.latestManifest(storeBase, "edges").get.rows
      val nNodes = GraphStore.latestManifest(storeBase, "nodes").get.rows
      // Retention sweep (Iceberg expire_snapshots): re-runs with changed
      // fingerprints accumulate superseded snapshots; keep the newest
      // `retainSnapshots` per stage (latest always survives — resume
      // semantics untouched) so the store's footprint stays bounded
      // across the job's lifetime. Runs after every stage's commit has
      // returned, so nothing newer-than-latest is a legitimate in-flight
      // write.
      if (retainSnapshots > 0)
        Stages.foreach(GraphStore.expireSnapshots(storeBase, _, retainSnapshots))
      mark("finalize")
      val secs = (System.nanoTime() - t0) / 1e9
      Result(nPages, nTriples, nNodes, 0L, secs, nTriples / secs, nPages / secs,
        marks.toSeq)
    } catch {
      case e: Throwable =>
        pageSetsP.tryFailure(e)
        throw e
    } finally {
      persisted.foreach(_.unpersist(false))
      lineFactsP.future.foreach(_.unpersist(false))
      spark.sparkContext.removeSparkListener(counters)
      spark.conf.set("spark.sql.constraintPropagation.enabled", prevCP)
    }
  }
}
