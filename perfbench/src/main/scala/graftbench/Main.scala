package graftbench

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession
import graft.Pipeline
import graft.metrics.TaskCounters
import graft.store.GraphStore
import Common._

/** One harness JVM. `perfbench/run.py` launches one per phase, each with
  * a fresh SparkSession, and reads the `PERFBENCH {...}` line it prints.
  *
  * Modes (first argument), the rest are `key=value`:
  *  - `build`: one cold `Pipeline.run` into an empty store, then a
  *             kill-resume: the edges manifest is deleted, as a kill
  *             mid-edges leaves it, and `Pipeline.run` runs again.
  *  - `trace`: a traced build, every layer called serially, then the
  *             headline queries in rounds (see [[Trace]]).
  */
object Main {

  final class Args(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k="))
    def int(k: String): Int = apply(k).toInt
    def double(k: String): Double = apply(k).toDouble
  }

  def main(argv: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    // Spark's non-daemon threads would keep a failed JVM alive: end it
    // explicitly either way, once the result (or the failure) is out.
    val status =
      try {
        val mode = argv.headOption.getOrElse("")
        val a = new Args(argv.drop(1).map { s =>
          val i = s.indexOf('='); s.take(i) -> s.drop(i + 1)
        }.toMap)
        val cpus = a.int("cpus")
        val spark = session(cpus)
        val setupS = (System.currentTimeMillis() - a("launch_ms").toLong) / 1000.0
        val out: Map[String, Any] = mode match {
          case "build" => build(spark, a, cpus)
          case "trace" => Trace.run(spark, a, cpus)
          case other => throw new IllegalArgumentException(s"unknown mode $other")
        }
        emit(out ++ Map("mode" -> mode, "setup_s" -> setupS, "host" -> hostShape(spark, cpus)))
        0
      } catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    Runtime.getRuntime.halt(status)
  }

  def errorOf(e: Throwable): String = {
    e.printStackTrace()
    s"${e.getClass.getName}: ${e.getMessage}".take(500)
  }

  /** Path of the latest committed snapshot's manifest of a store stage. */
  def manifestOf(store: String, stage: String): Path =
    Paths.get(store, s"stage=$stage",
      s"snapshot=${GraphStore.latestSnapshot(store, stage)}", "manifest.json")

  private def storeDigest(spark: SparkSession, store: String, stage: String): String =
    digest(GraphStore.readLatest(spark, store, stage).get)._2

  def build(spark: SparkSession, a: Args, cpus: Int): Map[String, Any] = {
    val input = a("input"); val store = a("store"); val mult = a.int("mult")
    val calibPre = TaskCounters.calibrate()
    val buildRes: Map[String, Any] =
      try {
        val (r, secs) = timed(Pipeline.run(spark, input, store, partitions = cpus, mult = mult))
        Map("build_s" -> secs, "n_pages" -> r.nPages, "n_edges" -> r.nTriples,
          "n_nodes" -> r.nNodes, "audit_mismatches" -> r.auditMismatches,
          "store_mb" -> treeBytes(Paths.get(store)) / 1e6,
          "edges_digest" -> storeDigest(spark, store, "edges"),
          "nodes_digest" -> storeDigest(spark, store, "nodes"))
      } catch { case e: Throwable => Map("build_error" -> errorOf(e)) }
    val resumeRes: Map[String, Any] =
      if (buildRes.contains("build_error")) Map.empty
      else try {
        // Start the resume from a collected heap, so the build's garbage is
        // not collected inside the resume's timed window.
        System.gc()
        Files.delete(manifestOf(store, "edges"))
        val (r, secs) = timed(Pipeline.run(spark, input, store, partitions = cpus, mult = mult))
        // the resume recomputes only the edges stage; nodes stay committed
        Map("resume_s" -> secs, "resume_audit_mismatches" -> r.auditMismatches,
          "resume_edges_digest" -> storeDigest(spark, store, "edges"))
      } catch { case e: Throwable => Map("resume_error" -> errorOf(e)) }
    val retainedMb = retainedHeapMb()
    val calibPost = TaskCounters.calibrate()
    buildRes ++ resumeRes ++ Map("retained_heap_mb" -> retainedMb,
      "calib_ms" -> Seq(calibPre, calibPost))
  }
}
