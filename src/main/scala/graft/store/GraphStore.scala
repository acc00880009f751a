package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Snapshot/manifest graph store — the Iceberg-table emulation mandated
  * by SURVEY.md §7.0 (no Iceberg runtime jar in the sandbox): each stage
  * commits to `base/stage=<name>/snapshot=<n>/` with
  *   data/        partitioned parquet
  *   lineage/     per-partition rows (partition_id, input_hash,
  *                row_counts, stage_ms)
  *   manifest.json  written LAST via atomic rename — its presence IS the
  *                commit; a killed job leaves no manifest and the next
  *                run resumes from the previous committed snapshot.
  *
  * This replaces the reference's BioCypher/Neo4j CSV batch write path
  * (scripts/create_crossbar.py:112-114, biocypher_config.yaml:6-13 —
  * SURVEY.md S10): dedup-at-sink and bad-relationship skipping are the
  * caller's dropDuplicates / left_semi against node ids; the store's job
  * is atomic commit + lineage + resume.
  */
object GraphStore {

  /** In-flight asynchronous lineage/manifest jobs (stage-commit
    * pipelining): the data files are written synchronously, the
    * lineage read-back + manifest commit run concurrently with
    * downstream stages. Await before treating the run as committed. */
  private val pending =
    new java.util.concurrent.ConcurrentLinkedQueue[scala.concurrent.Future[Long]]()

  /** Block until every in-flight lineage/manifest job has committed
    * (call at end-of-run; a kill before this leaves manifest-less
    * corpses that resume safely recomputes). Every queued future is
    * drained even when one fails — failures are aggregated into one
    * exception instead of abandoning the rest of the queue un-awaited. */
  def awaitPending(): Unit = {
    import scala.concurrent.duration.Duration
    val failures = scala.collection.mutable.ArrayBuffer.empty[Throwable]
    var f = pending.poll()
    while (f != null) {
      try scala.concurrent.Await.result(f, Duration.Inf)
      catch { case e: Throwable => failures += e }
      f = pending.poll()
    }
    if (failures.nonEmpty) {
      val head = failures.head
      failures.tail.foreach(head.addSuppressed)
      throw new RuntimeException(
        s"${failures.size} async commit(s) failed; first cause attached, " +
          "rest suppressed", head)
    }
  }

  private def stageDir(base: String, stage: String): Path =
    Paths.get(base, s"stage=$stage")

  private def snapDir(base: String, stage: String, n: Long): Path =
    stageDir(base, stage).resolve(s"snapshot=$n")

  /** Every `snapshot=<n>` id under a stage — committed or corpse — in
    * directory-listing order. */
  private def snapshotIds(base: String, stage: String): Seq[Long] = {
    val d = stageDir(base, stage)
    if (!Files.isDirectory(d)) return Nil
    val s = Files.list(d)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(_.startsWith("snapshot="))
      .map(_.stripPrefix("snapshot=").toLong).toSeq
    finally s.close()
  }

  private def isCommitted(base: String, stage: String, n: Long): Boolean =
    Files.exists(snapDir(base, stage, n).resolve("manifest.json"))

  /** Highest committed (manifest-present) snapshot id, or -1. */
  def latestSnapshot(base: String, stage: String): Long =
    snapshots(base, stage).lastOption.getOrElse(-1L)

  /** The input fingerprint recorded in a committed snapshot's manifest,
    * or None for an uncommitted stage. Missing field (pre-fingerprint
    * snapshots) reads as "". */
  def committedFingerprint(base: String, stage: String): Option[String] = {
    val n = latestSnapshot(base, stage)
    if (n < 0) None
    else {
      val m = Files.readString(snapDir(base, stage, n).resolve("manifest.json"))
      val pat = """"input_fp":"([^"]*)"""".r
      Some(pat.findFirstMatchIn(m).map(_.group(1)).getOrElse(""))
    }
  }

  /** Write `df` as the next snapshot of `stage`. The lineage table gets
    * one row per output partition: xxhash64-fold of the rows it holds,
    * its row count, and the wall-clock of this commit. `inputFp` is the
    * caller's fingerprint of everything the stage read (upstream
    * manifests + params); resume compares it before reusing a snapshot.
    * Returns the new snapshot id. */
  def commit(spark: SparkSession, base: String, stage: String, df: DataFrame,
             partitionByCols: Seq[String] = Nil, inputFp: String = "",
             lineageAsync: Boolean = false): Long = {
    val next = latestSnapshot(base, stage) + 1
    writeSnapshot(spark, base, stage, next, df, partitionByCols, inputFp,
      lineageAsync)
  }

  /** Idempotent MICRO-BATCH commit (the foreachBatch sink contract):
    * snapshot id IS the stream's batchId, so a failure-replayed batch
    * either finds its committed manifest and skips, or re-writes the
    * never-committed corpse — a batch can never double-commit. Lineage
    * and the atomic manifest rename are synchronous (a streaming batch
    * is only "done" when its snapshot is durable). Returns true if this
    * call committed, false if the batch was already committed. */
  def commitBatch(spark: SparkSession, base: String, stage: String,
                  batchId: Long, df: DataFrame, inputFp: String = ""): Boolean = {
    if (isCommitted(base, stage, batchId)) false
    else {
      writeSnapshot(spark, base, stage, batchId, df, Nil, inputFp,
        lineageAsync = false)
      true
    }
  }

  /** Union of ALL committed snapshots of a stage — the read surface of
    * the micro-batch append model (each batchId is one snapshot; the
    * stage's table is their union), vs [[readLatest]]'s
    * whole-stage-replacement model. */
  def readAllSnapshots(spark: SparkSession, base: String,
                       stage: String): Option[DataFrame] = {
    val dirs = snapshots(base, stage)
      .map(n => snapDir(base, stage, n).resolve("data").toString)
    if (dirs.isEmpty) None
    else Some(spark.read.parquet(dirs: _*))
  }

  private def writeSnapshot(spark: SparkSession, base: String, stage: String,
                            next: Long, df: DataFrame,
                            partitionByCols: Seq[String], inputFp: String,
                            lineageAsync: Boolean): Long = {
    val dir = snapDir(base, stage, next)
    val t0 = System.nanoTime()

    val dataPath = dir.resolve("data").toString
    // zstd: stage snapshots are text-heavy (page text, urls, evidence);
    // ~3x smaller files turn a memory/IO-bandwidth-bound write+readback
    // (which does NOT scale with cores on one box) into CPU work (which
    // does) — measured as the difference between flat and scaling
    // extract/mentions stages at high thread counts.
    // Dictionary encoding OFF for snapshot data: the heavy columns
    // (urls, evidence lists, property maps) are high-cardinality
    // strings where parquet's dictionary attempt always falls back
    // after burning CPU per page (jstack-sampled as the dominant
    // write-path cost), and zstd already captures the redundancy
    // dictionary encoding would.
    val writer = df.write.mode("overwrite").option("compression", "zstd")
      .option("parquet.enable.dictionary", "false")
    (if (partitionByCols.nonEmpty) writer.partitionBy(partitionByCols: _*) else writer)
      .parquet(dataPath)

    // Lineage from the *committed* files (what a resume would read):
    // spark_partition_id of the re-scan + order-insensitive hash fold.
    // The manifest is only written AFTER lineage, so the snapshot stays
    // invisible (a recomputable corpse) if anything dies in between —
    // which is what makes lineageAsync safe: it only moves this
    // read-back off the critical path, never the commit guarantee.
    def finishCommit(): Long = {
      val written = spark.read.parquet(dataPath)
      // xxhash64 rejects MAP columns (undefined map ordering); hash the rest
      val hashable = written.schema.fields
        .filterNot(_.dataType.isInstanceOf[org.apache.spark.sql.types.MapType])
        .map(f => col(f.name))
      val rowHash = if (hashable.nonEmpty) xxhash64(hashable: _*) else lit(0L)
      val elapsedMs = (System.nanoTime() - t0) / 1000000
      // ONE read-back pass: the lineage aggregation also yields the total
      // row count for the manifest (stage commits were IO-bound with a
      // separate count() pass — measured as the pipeline's Amdahl floor).
      val lineage = written
        .groupBy(spark_partition_id().as("partition_id"))
        .agg(bit_xor(rowHash).as("input_hash"), count(lit(1)).as("row_counts"))
        .withColumn("stage", lit(stage))
        .withColumn("snapshot", lit(next))
        .withColumn("stage_ms", lit(elapsedMs))
        .select("stage", "snapshot", "partition_id", "input_hash", "row_counts", "stage_ms")
        .localCheckpoint(true)
      val totalRows = lineage.agg(sum(col("row_counts"))).head().getLong(0)
      lineage.coalesce(1).write.mode("overwrite").parquet(dir.resolve("lineage").toString)

      // Atomic commit: manifest written to a temp name, then renamed.
      val manifest =
        s"""{"stage":"$stage","snapshot":$next,"rows":$totalRows,""" +
          s""""committed_ms":$elapsedMs,"input_fp":"$inputFp"}"""
      val tmp = dir.resolve(".manifest.tmp")
      Files.writeString(tmp, manifest)
      Files.move(tmp, dir.resolve("manifest.json"), StandardCopyOption.ATOMIC_MOVE)
      next
    }
    if (lineageAsync) {
      import scala.concurrent.ExecutionContext.Implicits.global
      pending.add(scala.concurrent.Future(finishCommit()))
      next
    } else finishCommit()
  }

  /** Read the latest committed snapshot of `stage`; None if never
    * committed (resume entry point). */
  def readLatest(spark: SparkSession, base: String, stage: String): Option[DataFrame] = {
    val n = latestSnapshot(base, stage)
    if (n < 0) None
    else Some(spark.read.parquet(snapDir(base, stage, n).resolve("data").toString))
  }

  /** All committed snapshot ids of a stage, ascending (the Iceberg
    * `snapshots` metadata-table surface). Manifest-less corpses are
    * invisible here exactly as they are to reads. */
  def snapshots(base: String, stage: String): Seq[Long] =
    snapshotIds(base, stage).filter(isCommitted(base, stage, _)).sorted

  /** Time-travel read (Iceberg `VERSION AS OF`): the data of a SPECIFIC
    * committed snapshot, or None if that id was never committed (or was
    * expired). */
  def readSnapshot(spark: SparkSession, base: String, stage: String,
                   n: Long): Option[DataFrame] = {
    if (!isCommitted(base, stage, n)) None
    else Some(spark.read.parquet(snapDir(base, stage, n).resolve("data").toString))
  }

  /** Close-safe recursive delete (shared by the snapshot expiry below
    * and the tmp-store cleanup in Bench / the stream queries). */
  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.iterator().asScala.toSeq.foreach(deleteRecursively)
      finally s.close()
    }
    Files.deleteIfExists(p)
  }

  /** Delete a snapshot directory with the manifest FIRST: the manifest's
    * presence IS the commit, so removing it up front turns the snapshot
    * into an invisible corpse before any data file disappears — a crash
    * mid-delete can never leave a "committed" snapshot with missing data
    * files (the inverse of the manifest-LAST commit discipline). */
  private def deleteSnapshotDir(dir: Path): Unit = {
    Files.deleteIfExists(dir.resolve("manifest.json"))
    deleteRecursively(dir)
  }

  /** Retention (Iceberg `expire_snapshots`): delete all but the newest
    * `keepLast` committed snapshots, plus any manifest-less corpses
    * older than the kept window (a corpse NEWER than the kept window is
    * left alone — it may be an in-flight commit). The latest snapshot
    * is never expired (keepLast is clamped to >= 1). Returns the
    * expired committed ids. Single-writer store: callers must not
    * expire while another process reads the same stage. */
  def expireSnapshots(base: String, stage: String, keepLast: Int): Seq[Long] = {
    val committed = snapshots(base, stage)
    if (committed.isEmpty) return Nil
    val keep = committed.takeRight(math.max(1, keepLast)).toSet
    val cutoff = keep.min
    val doomed = snapshotIds(base, stage)
      .filter(n => n < cutoff && !keep.contains(n)).sorted
    doomed.foreach(n => deleteSnapshotDir(snapDir(base, stage, n)))
    doomed.filter(committed.contains)
  }

  /** Rollback (Iceberg `rollback_to_snapshot`): drop every snapshot —
    * committed or corpse — NEWER than `n`, restoring `n` as the
    * stage's latest. Resume semantics follow: a getOrCompute whose
    * inputFp matches the rolled-back manifest resumes that data;
    * anything else recomputes forward from it. */
  def rollbackTo(base: String, stage: String, n: Long): Unit = {
    require(isCommitted(base, stage, n),
      s"rollback target stage=$stage snapshot=$n is not committed")
    snapshotIds(base, stage).filter(_ > n)
      .foreach(m => deleteSnapshotDir(snapDir(base, stage, m)))
  }

  def readLineage(spark: SparkSession, base: String, stage: String): Option[DataFrame] = {
    val n = latestSnapshot(base, stage)
    if (n < 0) None
    else Some(spark.read.parquet(snapDir(base, stage, n).resolve("lineage").toString))
  }

  /** Compute-or-resume: if `stage` has a committed snapshot whose
    * recorded input fingerprint matches `inputFp`, read it; otherwise
    * compute `f`, commit (optionally directory-partitioned for
    * downstream pruning), and read back the committed data. A changed
    * corpus/params therefore invalidates stale snapshots instead of
    * silently resuming wrong data. This is the per-stage checkpoint the
    * north rule requires. */
  def getOrCompute(spark: SparkSession, base: String, stage: String,
                   partitionByCols: Seq[String] = Nil, inputFp: String = "",
                   lineageAsync: Boolean = false)
                  (f: => DataFrame): DataFrame = {
    val committed = committedFingerprint(base, stage)
    if (committed.contains(inputFp)) readLatest(spark, base, stage).get
    else {
      if (committed.isDefined)
        println(s"[store] stage=$stage input fingerprint changed — recomputing")
      val next = commit(spark, base, stage, f, partitionByCols, inputFp, lineageAsync)
      // Read the just-written snapshot by path: with lineageAsync the
      // manifest may not have landed yet, but the data files have.
      spark.read.parquet(snapDir(base, stage, next).resolve("data").toString)
    }
  }
}
