package graft.store

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.parquet.format.Util
import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.model.LineageRow

/** Snapshot/manifest graph store — the Iceberg-table emulation mandated
  * by SURVEY.md §7.0 (no Iceberg runtime jar in the sandbox): each stage
  * commits to `base/stage=<name>/snapshot=<n>/` with
  *   data/        partitioned parquet
  *   manifest.json  row count, input fingerprint, commit wall-clock and
  *                the `lineage` array: one [[graft.model.LineageRow]]
  *                per write task (partition_id = the task that wrote
  *                `part-<id>` files) with its row count and the bit_xor
  *                of its rows' xxhash64. Written LAST via atomic rename —
  *                its presence IS the commit; a killed job leaves no
  *                manifest and the next run resumes from the previous
  *                committed snapshot.
  *
  * A commit is one Spark job plus one file: the lineage is observed
  * inside the data write job, checked against the committed files'
  * parquet footers, and carried in the manifest (as Iceberg keeps
  * per-file statistics in its commit metadata, not in a second table).
  *
  * This replaces the reference's BioCypher/Neo4j CSV batch write path
  * (scripts/create_crossbar.py:112-114, biocypher_config.yaml:6-13 —
  * SURVEY.md S10): dedup-at-sink and bad-relationship skipping are the
  * caller's dropDuplicates / left_semi against node ids; the store's job
  * is atomic commit + lineage + resume.
  */
object GraphStore {

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

  /** What a committed snapshot's manifest records for its readers: the
    * row count of its data, the caller's input fingerprint and the
    * per-write-task lineage. */
  final case class Manifest(rows: Long, inputFp: String,
                            lineage: Option[Seq[LineageRow]] = None)

  /** Writes and reads every manifest, so any `input_fp` string
    * round-trips escaped. */
  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The latest committed snapshot's manifest, or None for an
    * uncommitted stage. A missing `input_fp` (pre-fingerprint
    * snapshots) reads as "", a missing `lineage` as None. */
  def latestManifest(base: String, stage: String): Option[Manifest] =
    snapshots(base, stage).lastOption.map { n =>
      val m = json.readTree(snapDir(base, stage, n).resolve("manifest.json").toFile)
      Manifest(m.get("rows").asLong, m.path("input_fp").asText(""),
        Option(m.get("lineage")).map(json.treeToValue(_, classOf[Array[LineageRow]]).toSeq))
    }

  /** Write `df` as the next snapshot of `stage`. The manifest's lineage
    * gets one row per write task: xxhash64-fold of the rows it wrote,
    * its row count, and the wall-clock of this commit. `inputFp` is the
    * caller's fingerprint of everything the stage read (upstream
    * manifests + params); resume compares it before reusing a snapshot.
    * Returns the new snapshot id. */
  def commit(spark: SparkSession, base: String, stage: String, df: DataFrame,
             partitionByCols: Seq[String] = Nil, inputFp: String = ""): Long = {
    val next = latestSnapshot(base, stage) + 1
    writeSnapshot(base, stage, next, df, partitionByCols, inputFp)
  }

  /** Idempotent MICRO-BATCH commit (the foreachBatch sink contract):
    * snapshot id IS the stream's batchId, so a failure-replayed batch
    * either finds its committed manifest and skips, or re-writes the
    * never-committed corpse — a batch can never double-commit. Returns
    * true if this call committed, false if the batch was already
    * committed. */
  def commitBatch(spark: SparkSession, base: String, stage: String,
                  batchId: Long, df: DataFrame, inputFp: String = ""): Boolean = {
    if (isCommitted(base, stage, batchId)) false
    else {
      writeSnapshot(base, stage, batchId, df, Nil, inputFp)
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

  /** Per-write-task (task, row count, bit_xor of row hashes), observed
    * while the task writes: flat triples, one per task that saw a row.
    * A task's buffer only ever holds its own rows; the driver merges
    * each finished task's buffer once (a double merge would fail the
    * footer check in `writeSnapshot`). The task id comes from the
    * TaskContext — `spark_partition_id()` reads 0 inside an observed
    * aggregate. */
  private object PerTaskLineage extends Aggregator[Long, Array[Long], Array[Long]] {
    def zero: Array[Long] = Array.emptyLongArray
    def reduce(b: Array[Long], hash: Long): Array[Long] =
      if (b.isEmpty) Array(TaskContext.getPartitionId().toLong, 1L, hash)
      else { b(1) += 1; b(2) ^= hash; b }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = a ++ b
    def finish(b: Array[Long]): Array[Long] = b
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  /** A parquet file's row count, from its footer alone: the file ends
    * with the thrift FileMetaData, its 4-byte little-endian length and
    * the magic "PAR1". On a 4-vCPU host with a local disk,
    * parquet-hadoop's reader took ~10 ms a file; these two small reads
    * take ~0.03 ms. */
  private def footerRows(p: Path): Long = {
    val f = new java.io.RandomAccessFile(p.toFile, "r")
    try {
      val tail = new Array[Byte](8)
      f.seek(f.length - 8); f.readFully(tail)
      val meta = new Array[Byte](java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt)
      f.seek(f.length - 8 - meta.length); f.readFully(meta)
      Util.readFileMetaData(new java.io.ByteArrayInputStream(meta)).getNum_rows
    } finally f.close()
  }

  /** Row count of each write task's `part-<task>-…` files under `dir`,
    * from their footers (metadata only, no data scan). Tasks that wrote
    * no rows are left out. */
  private def footerRowCounts(dir: Path): Map[Int, Long] = {
    val PartFile = """part-(\d+)-.*\.parquet""".r
    val s = Files.walk(dir)
    try s.iterator().asScala.toList.map(p => (p, p.getFileName.toString))
      .collect { case (p, PartFile(task)) => task.toInt -> footerRows(p) }
      .groupMapReduce(_._1)(_._2)(_ + _).filter(_._2 > 0)
    finally s.close()
  }

  private def writeSnapshot(base: String, stage: String, next: Long, df: DataFrame,
                            partitionByCols: Seq[String], inputFp: String): Long = {
    val dir = snapDir(base, stage, next)
    val t0 = System.nanoTime()

    // Lineage hash: xxhash64 rejects MAP columns (undefined map
    // ordering), and partition columns live in directory names, not in
    // the files — hash the rest. Observed inside the write job itself:
    // the write is the only pass over the rows.
    val hashable = df.schema.fields
      .filterNot(f => f.dataType.isInstanceOf[MapType] || partitionByCols.contains(f.name))
      .map(f => col(f.name))
    val rowHash = if (hashable.nonEmpty) xxhash64(hashable: _*) else lit(0L)
    val obs = Observation()
    val dataPath = dir.resolve("data")
    // zstd: stage snapshots are text-heavy (page text, urls, evidence);
    // ~3x smaller files turn a memory/IO-bandwidth-bound write (which
    // does NOT scale with cores on one box) into CPU work (which does)
    // — measured as the difference between flat and scaling
    // extract/mentions stages at high thread counts.
    // Dictionary encoding OFF for snapshot data: the heavy columns
    // (urls, evidence lists, property maps) are high-cardinality
    // strings where parquet's dictionary attempt always falls back
    // after burning CPU per page (jstack-sampled as the dominant
    // write-path cost), and zstd already captures the redundancy
    // dictionary encoding would.
    val writer = df.observe(obs,
        udaf(PerTaskLineage, Encoders.scalaLong)(rowHash).as("tasks"))
      .write.mode("overwrite").option("compression", "zstd")
      .option("parquet.enable.dictionary", "false")
    (if (partitionByCols.nonEmpty) writer.partitionBy(partitionByCols: _*) else writer)
      .parquet(dataPath.toString)

    val elapsedMs = (System.nanoTime() - t0) / 1000000
    val lineage = obs.get("tasks").asInstanceOf[collection.Seq[Long]].grouped(3)
      .map(t => LineageRow(stage, next, t(0).toInt, t(2), t(1), elapsedMs))
      .toSeq.sortBy(_.partition_id)
    // The observed per-task counts must be what the committed files
    // hold; a mismatch throws before the manifest, leaving a
    // recomputable corpse.
    val inFiles = footerRowCounts(dataPath)
    if (lineage.map(r => r.partition_id -> r.row_counts) != inFiles.toSeq.sorted)
      throw new IllegalStateException(s"stage=$stage snapshot=$next: observed " +
        s"per-task rows $lineage != parquet footer rows $inFiles")

    // Atomic commit: manifest written to a temp name, then renamed.
    val manifest = json.createObjectNode().put("stage", stage).put("snapshot", next)
      .put("rows", inFiles.values.sum).put("committed_ms", elapsedMs)
      .put("input_fp", inputFp)
      .set[JsonNode]("lineage", json.valueToTree[JsonNode](lineage))
    val tmp = dir.resolve(".manifest.tmp")
    Files.writeString(tmp, json.writeValueAsString(manifest))
    Files.move(tmp, dir.resolve("manifest.json"), StandardCopyOption.ATOMIC_MOVE)
    next
  }

  /** Read the latest committed snapshot of `stage`; None if never
    * committed (resume entry point). */
  def readLatest(spark: SparkSession, base: String, stage: String): Option[DataFrame] =
    readSnapshot(spark, base, stage, latestSnapshot(base, stage))

  /** All committed snapshot ids of a stage, ascending (the Iceberg
    * `snapshots` metadata-table surface). Manifest-less corpses are
    * invisible here exactly as they are to reads. */
  def snapshots(base: String, stage: String): Seq[Long] =
    snapshotIds(base, stage).filter(isCommitted(base, stage, _)).sorted

  /** Time-travel read (Iceberg `VERSION AS OF`): the data of a SPECIFIC
    * committed snapshot, or None if that id was never committed (or was
    * expired). */
  def readSnapshot(spark: SparkSession, base: String, stage: String,
                   n: Long): Option[DataFrame] =
    if (!isCommitted(base, stage, n)) None
    else Some(spark.read.parquet(snapDir(base, stage, n).resolve("data").toString))

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

  /** The latest committed snapshot's lineage, from its manifest: a local
    * relation, so reading it runs no job and scans no file. None for an
    * uncommitted stage or a manifest without lineage. */
  def readLineage(spark: SparkSession, base: String, stage: String): Option[DataFrame] =
    latestManifest(base, stage).flatMap(_.lineage)
      .map(spark.createDataset(_)(Encoders.product[LineageRow]).toDF())

  /** Compute-or-resume: if `stage` has a committed snapshot whose
    * recorded input fingerprint matches `inputFp`, read it; otherwise
    * compute `f`, commit (optionally directory-partitioned for
    * downstream pruning), and read the committed snapshot. A changed
    * corpus/params therefore invalidates stale snapshots instead of
    * silently resuming wrong data. This is the per-stage checkpoint the
    * north rule requires. */
  def getOrCompute(spark: SparkSession, base: String, stage: String,
                   partitionByCols: Seq[String] = Nil, inputFp: String = "")
                  (f: => DataFrame): DataFrame = {
    val committed = latestManifest(base, stage).map(_.inputFp)
    if (!committed.contains(inputFp)) {
      if (committed.isDefined)
        println(s"[store] stage=$stage input fingerprint changed — recomputing")
      commit(spark, base, stage, f, partitionByCols, inputFp)
    }
    readLatest(spark, base, stage).get
  }
}
