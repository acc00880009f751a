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
  * Resume: the seven committed stages are declared once, in
  * [[StageTable]]. A stage's fingerprint is its code version, its run
  * parameters and the fingerprints of the stages it reads. Bumping a
  * stage's version recomputes exactly that stage and the stages
  * downstream of it; changing `mult` recomputes the page stages and
  * edges; touching any input file recomputes every stage.
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

  /** A committed stage: its name, its code version (bumped when the
    * stage's output changes for the same inputs), what it reads
    * (upstream stages or run parameters) and, if it is written bucketed,
    * its bucket key. */
  private[graft] final case class Stage(name: String, version: String,
      reads: Seq[String], bucketKey: Option[String] = None)

  /** The stages `run` commits, each after every stage it reads. The
    * resume fingerprints, [[Stages]] and the bucketed writes derive from
    * this table. Only canonical_ids and extracted read the run
    * parameters `input` (the input identity) and `mult`; every other
    * stage that reads an input table reaches the input identity through
    * them. nodes reads canonical_ids because its product ids must be the
    * components connected components picks; edges semi-joins against
    * nodes and reads the page sets. nodes-typed-v6: the store persists
    * the full declared schema (all 14 node types, complete relational
    * entity universes). */
  private[graft] val StageTable: Seq[Stage] = Seq(
    Stage("canonical_ids", "canon-cc-v1", Seq("input")),
    Stage("extracted", "extract-v3", Seq("input", "mult")),
    Stage("mentions", "mentions-trie-v2", Seq("extracted")),
    Stage("pagesets", "pagesets-v1", Seq("mentions", "canonical_ids")),
    Stage("triples", "triples-v1", Seq("pagesets", "canonical_ids")),
    Stage("nodes", "nodes-typed-v6", Seq("canonical_ids"), Some("id")),
    Stage("edges", "edges-fused-v8", Seq("pagesets", "canonical_ids", "nodes"), Some("subject_id")))

  /** Stage names the pipeline commits — the retention sweep below and
    * external tooling share this list. */
  val Stages: Seq[String] = StageTable.map(_.name)

  /** Each stage's resume fingerprint: its version and, for each thing it
    * reads, `name={fingerprint}`, where a run parameter's fingerprint is
    * its value from `params`. Built from versions and parameters, not
    * from upstream snapshot ids, so every fingerprint is known before
    * any stage runs: `run` decides at startup, from the edges
    * fingerprint, whether to build the edge families at all. The result
    * also holds `params` itself. */
  private[graft] def fingerprints(table: Seq[Stage],
                                  params: Map[String, String]): Map[String, String] =
    table.foldLeft(params) { (fp, s) =>
      fp + (s.name -> (s.version +: s.reads.map(r => s"$r={${fp(r)}}")).mkString(";"))
    }

  /** The input's identity: `sfDir` and a digest of the sorted (relative
    * path, length, modification time) of every file under it. Listed
    * through Hadoop, so a non-local `sfDir` works; one listing, no job. */
  private def inputIdentity(spark: SparkSession, sfDir: String): String = {
    val root = new org.apache.hadoop.fs.Path(sfDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootLen = fs.makeQualified(root).toString.length
    val files = fs.listFiles(root, true)
    val entries = Iterator.continually(files).takeWhile(_.hasNext).map(_.next())
      .map(f => s"${f.getPath.toString.drop(rootLen)}:${f.getLen}:${f.getModificationTime}")
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(entries.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
    s"$sfDir#${java.util.HexFormat.of.formatHex(sha, 0, 8)}"
  }

  /** One exchange on the bucket key before a bucketed write: without it
    * every upstream partition writes its own file per bucket directory
    * (~270 files of ~16 KB for nodes, 5,439 of ~7 KB for edges, at
    * sf0.1), and every read of the snapshot pays the per-file
    * open/close. After: one task per occupied bucket, 32 right-sized
    * files, for one shuffle of the stage's rows. */
  private def bucketed(df: DataFrame, key: String): DataFrame =
    df.withColumn("bucket", pmod(xxhash64(col(key)), lit(32)))
      .repartition(32, col("bucket"))

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

      // The manifest records each stage's fingerprint; GraphStore
      // resumes a snapshot only when it matches.
      val fp = fingerprints(StageTable,
        Map("input" -> inputIdentity(spark, sfDir), "mult" -> mult.toString))
      // Every commit: the stage's fingerprint and bucket layout from the
      // table. Plan-audit hook: when SPARK_GRAFT_PLAN_DIR is set, the
      // formatted physical plan of each computed stage frame is written
      // there before it executes (debug-only; the bench never sets it).
      def stage(name: String)(body: => DataFrame): DataFrame = {
        val key = StageTable.find(_.name == name).get.bucketKey
        GraphStore.getOrCompute(spark, storeBase, name,
            partitionByCols = key.map(_ => "bucket").toSeq, inputFp = fp(name)) {
          val df = key.fold(body)(bucketed(body, _))
          sys.env.get("SPARK_GRAFT_PLAN_DIR").foreach(d => java.nio.file.Files.writeString(
            java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)).resolve(s"$name.txt"),
            df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)))
          df
        }
      }

      // Stage-commit pipelining: independent stages run as concurrent
      // Spark jobs (the scheduler interleaves their tasks). Each commit
      // is synchronous — the data write, then the manifest carrying its
      // lineage — so a kill leaves only manifest-less corpses that resume
      // recomputes.

      // Stage 3/4 input: the CC-derived canonicalization table depends
      // only on the source tables — overlap it with extract+mentions.
      val canonF = Future(stage("canonical_ids")(Corpus.canonicalIds(spark, sfDir)))

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
        stage("nodes") {
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
          Triples.nodesTyped(Corpus.relationalEntityNodes(spark, sfDir),
              Corpus.nodeAttrs(spark, sfDir))
            .unionByName(plain)
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
        GraphStore.latestManifest(storeBase, "edges").map(_.inputFp).contains(fp("edges"))
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
      val extracted = stage("extracted") {
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
      val mentions = stage("mentions") {
        Linker.mentions(extracted.select("url", "text"), Corpus.aliasDict(spark, sfDir))
      }
      mark("mentions")

      // Shared intermediate: per-page canonical entity sets — computed
      // (scan + group of the big mentions table) ONCE, consumed by both
      // the triple and the evidence/edge stages.
      val pageSets = stage("pagesets")(Triples.perPageEntitySets(mentions, canon))
      // Hub-skew guard: past the page threshold, witness aggregation
      // runs two-phase salted (value-hash cells) so a popular edge's
      // fan-in spreads over 8 reducers before the bounded cap applies —
      // bit-identical to the single-phase path by merge associativity.
      pageSetsP.success((pageSets,
        if (nPages >= Triples.SaltPageThreshold) Triples.DefaultEvidenceSalts
        else 1))
      // Triples is a reporting artifact (edges re-derive with evidence),
      // so it runs concurrently with the nodes stage.
      val triplesF = Future(stage("triples")(Triples.extractFromSets(pageSets, canon)))
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
      stage("edges")(KgSchema.dropBadRelationships(Await.result(edgesPlanF, Duration.Inf), nodes))
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
