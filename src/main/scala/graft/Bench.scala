package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession

/** Benchmark main. Prints ONE JSON line:
  * {"metric":"total","value":<sec>,"unit":"sec","queries":{...},
  *  "query_counters":{...},"calib_ms":{"start":…,"mid":…,"end":…},"sf":...,
  *  "pipeline":{"n_pages":...,"n_triples":...,"triples_per_sec":...,
  *  "stages":[...]},"cpus":N}
  *
  * The headline metric for BASELINE.md is pipeline triples/sec
  * (end-to-end extract → link → canonicalize → CC → store). Scaling
  * evidence comes from running this main at two SPARK_GRAFT_CPUS levels
  * on the same SPARK_GRAFT_SF_DIR.
  *
  * The JSON is self-attributing: `query_counters` carries each
  * headline query's median-rep task CPU / shuffle-write / scan volumes,
  * `pipeline.stages` the per-stage equivalents, and `calib_ms` a fixed
  * single-threaded probe timed at bench start and end. Normalization
  * for a reader comparing rounds: if calib_ms is far above its ~1 s
  * nominal or a sec rose while its cpu_s/shufW_mb/scan_mb stayed flat,
  * the delta is host contention; a real code regression shows up as
  * volumes or CPU moving with the wall time.
  */
object Bench {

  /** Headline queries timed individually (a spread across the operator
    * inventory; full coverage runs in Verify). */
  private val headline = Seq(
    "q_triples", "q_mentions", "q_cc", "q_merge_edges", "q_pair_dedup",
    "q_top1_per_group", "q_set_union", "q_dedup_exact", "q_ngram_jaccard",
    "q_minhash_neardup", "q_knn_cosine", "q_knn_lsh", "q_knn_ivf",
    "q_doc_stats", "q_events_hourly")

  def main(args: Array[String]): Unit = {
    // The one-line JSON below is built with f"" interpolators, which
    // format through the DEFAULT locale — under a comma-decimal locale
    // (de_DE, fr_FR, …) "%.2f" would emit `0,52` and break every
    // downstream parse of the artifact. This main owns its JVM: pin
    // the root locale.
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val pipelineOnly = sys.env.get("SPARK_GRAFT_PIPELINE_ONLY").contains("1")

    // Self-attribution instruments (the bench JSON must let a reader
    // separate "the host was slow" from "the code did more" without
    // access to the machine): a shared task-counter listener feeding
    // per-query counter deltas, plus a fixed single-threaded
    // calibration probe timed at start and end. Probe nominal + query
    // counters up = code regression; probe slow + volumes flat = host.
    val counters = new graft.metrics.TaskCounters
    spark.sparkContext.addSparkListener(counters)
    val calibStartMs = graft.metrics.TaskCounters.calibrate()

    // Median of N timed runs per query inside ONE warmed JVM (host
    // throughput fluctuates 1.5-3× between runs; the median inside one
    // process is the stable number). A query failure is NEVER swallowed:
    // it is printed and reported as a negative sentinel in the JSON.
    // Each rep's counter delta is captured (queries run serially, so a
    // drained-bus snapshot delta is exact attribution); the reported
    // counters are those of the median-time rep, so sec and counters
    // describe the SAME execution.
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    // SPARK_GRAFT_QUERIES=q_a,q_b overrides the headline list (e.g. to
    // bench the curation family standalone). The override is marked in
    // the JSON so a cross-round reader never mistakes its total for
    // the standard headline total.
    val queryOverride = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    val queryList = queryOverride.getOrElse(headline)
    final case class Rep(sec: Double, cpuS: Double, shufWMb: Double, scanMb: Double)
    val results = (if (pipelineOnly) Seq.empty[String]
                   else queryList.filter(SparkEntry.queries.contains)).map { name =>
      val repRows =
        try (0 until reps).map { _ =>
          graft.metrics.TaskCounters.drain(spark.sparkContext)
          val c0 = counters.snapshot
          val t0 = System.nanoTime()
          SparkEntry.queries(name)(spark, sfDir).count()
          val sec = (System.nanoTime() - t0) / 1e9
          graft.metrics.TaskCounters.drain(spark.sparkContext)
          val d = counters.snapshot.zip(c0).map { case (a, b) => a - b }
          Rep(sec, d(1) / 1e9, d(2) / 1e6, d(4) / 1e6)
        }.sortBy(_.sec)
        catch {
          case e: Throwable =>
            System.err.println(s"[bench] FAILED $name: $e")
            e.printStackTrace()
            Seq(Rep(-1.0, 0, 0, 0))
        }
      name -> repRows(repRows.size / 2)
    }

    // Measurement hygiene between the two phases: the query phase
    // leaves cached plans and localCheckpoint blocks behind (the
    // IVF/LSH persisted intermediates), and localCheckpoint blocks are
    // pinned until their RDDs are garbage-collected — left alone they
    // squeeze the pipeline phase's unified memory. Free them so the
    // pipeline half of this bench measures the pipeline, not the
    // query phase's leftovers.
    if (!pipelineOnly) {
      spark.catalog.clearCache()
      System.gc() // lets ContextCleaner reap the now-unreachable checkpoint RDDs
      Thread.sleep(2000) // give the async block removals time to drain
    }
    val calibMidMs = graft.metrics.TaskCounters.calibrate()

    // End-to-end pipeline into a fresh snapshot store (cold run).
    // SPARK_GRAFT_MULT amplifies the corpus deterministically for
    // scaling-evidence runs (same input at both parallelism levels).
    val mult = sys.env.getOrElse("SPARK_GRAFT_MULT", "1").toInt
    // Stage snapshots go to tmpfs when available: the scaling experiment
    // measures compute scaling, and a single shared VM disk is the one
    // resource a real cluster's object store does NOT serialize on
    // (aggregate store bandwidth scales with executors).
    val tmpBase = if (Files.isDirectory(java.nio.file.Paths.get("/dev/shm")))
      java.nio.file.Paths.get("/dev/shm") else null
    def freshStore(): String = (if (tmpBase != null)
      Files.createTempDirectory(tmpBase, "graft_store_")
    else Files.createTempDirectory("graft_store_")).toString

    // CALIB-GATED headline (VERDICT r5 Next #1): the VM's identical-run
    // throughput swings up to ~3× between host windows, so a single
    // pipeline sample published as-is is not comparable across rounds.
    // Gate: a rep counts as QUIET only if the fixed single-threaded
    // probe measured immediately before AND after it stays within
    // `tolerance` of the probe's nominal on this host class (~1.1 s,
    // env-overridable). Retry up to `maxAttempts` reps (fresh store
    // each time — a reused store would resume, not recompute), publish
    // the FIRST quiet rep as `pipeline`, and disclose every discarded
    // contended rep under `contended_reps`. If no rep is quiet, publish
    // the least-contended one flagged `all_contended:true`.
    val calibNominalMs =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_NOMINAL_MS", "1100").toDouble
    val calibTolerance =
      sys.env.getOrElse("SPARK_GRAFT_CALIB_TOLERANCE", "1.15").toDouble
    val maxAttempts = sys.env.getOrElse("SPARK_GRAFT_CALIB_RETRIES", "3").toInt
    final case class PipeRep(pipe: Pipeline.Result, calibPreMs: Double,
                             calibPostMs: Double) {
      def worstProbeMs: Double = math.max(calibPreMs, calibPostMs)
      def quiet: Boolean = worstProbeMs <= calibNominalMs * calibTolerance
    }
    val reps0 = scala.collection.mutable.ArrayBuffer.empty[PipeRep]
    var calibPre = calibMidMs
    while (reps0.isEmpty || (!reps0.last.quiet && reps0.size < maxAttempts)) {
      val storeBase = freshStore()
      val p = Pipeline.run(spark, sfDir, storeBase, partitions = cpus, mult = mult)
      graft.store.GraphStore.deleteRecursively(java.nio.file.Path.of(storeBase))
      val calibPost = graft.metrics.TaskCounters.calibrate()
      reps0 += PipeRep(p, calibPre, calibPost)
      calibPre = calibPost // nothing runs between probe and next rep
    }
    val allContended = !reps0.exists(_.quiet)
    val chosenRep =
      if (allContended) reps0.minBy(_.worstProbeMs) else reps0.find(_.quiet).get
    val contended = reps0.filterNot(_ eq chosenRep)
    val pipe = chosenRep.pipe
    val calibEndMs = chosenRep.calibPostMs

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v.sec }
      .mkString("{", ",", "}")
    // Per-query attribution rows (same keys as `queries`): the median
    // rep's task CPU seconds, shuffle-write MB, and scan MB. A sec that
    // moved between rounds with flat counters is host variance, not a
    // code regression — readable from this artifact alone.
    val qCounters = results.map { case (k, v) =>
      "\"" + k + "\":{" +
        f""""cpu_s":${v.cpuS}%.2f,"shufW_mb":${v.shufWMb}%.1f,""" +
        f""""scan_mb":${v.scanMb}%.1f}"""
    }.mkString("{", ",", "}")
    val stages = pipe.stages.map { s =>
      "{\"name\":\"" + s.name + "\"," +
        f""""wall_s":${s.wallS}%.2f,"cpu_s":${s.taskCpuS}%.2f,""" +
        f""""run_s":${s.taskRunS}%.2f,"shufW_mb":${s.shufWMb}%.1f,""" +
        f""""scan_mb":${s.scanMb}%.1f,"rows":${s.rows}}"""
    }.mkString("[", ",", "]")
    val total = results.map(_._2.sec).sum + pipe.seconds
    val contendedJson = contended.map { r =>
      f"""{"seconds":${r.pipe.seconds}%.1f,""" +
        f""""triples_per_sec":${r.pipe.triplesPerSec}%.1f,""" +
        f""""calib_pre_ms":${r.calibPreMs}%.0f,"calib_post_ms":${r.calibPostMs}%.0f}"""
    }.mkString("[", ",", "]")
    val gateJson =
      f"""{"nominal_ms":$calibNominalMs%.0f,"tolerance":$calibTolerance%.2f,""" +
        s""""attempts":${reps0.size},"all_contended":$allContended}"""
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
        s""""query_counters":$qCounters,""" +
        f""""calib_ms":{"start":$calibStartMs%.0f,"mid":${chosenRep.calibPreMs}%.0f,""" +
        f""""end":$calibEndMs%.0f},""" +
        s""""calib_gate":$gateJson,"contended_reps":$contendedJson,""" +
        s""""queries_override":${queryOverride.isDefined},""" +
        s""""sf":"$sfDir","cpus":$cpus,"mult":$mult,""" +
        s""""pipeline":{"n_pages":${pipe.nPages},""" +
        s""""n_triples":${pipe.nTriples},"n_nodes":${pipe.nNodes},""" +
        s""""audit_mismatches":${pipe.auditMismatches},""" +
        s""""seconds":${pipe.seconds},"triples_per_sec":${pipe.triplesPerSec},""" +
        s""""pages_per_sec":${pipe.pagesPerSec},""" +
        s""""stages":$stages}}""")
    spark.stop()
  }
}
