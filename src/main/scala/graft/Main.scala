package graft

import org.apache.spark.sql.SparkSession

/** Cluster entrypoint (north rule: "runs via spark-submit at N and 4N
  * executors"). Unlike the local harness mains (Bench/Verify, which
  * pin `local[N]`), this builder sets NO master — spark-submit /
  * the cluster manager provides it — and derives shuffle parallelism
  * from the cluster's default parallelism unless overridden.
  *
  *   spark-submit --class graft.Main graft.jar \
  *     <pagesDir> <storeBase> [mult] [shufflePartitions]
  *
  * The pipeline itself is identical to the one the local benchmarks
  * measure: the only difference a real cluster introduces is that
  * memory channels and store bandwidth scale WITH the executors
  * (BENCH/BASELINE.md §2).
  */
object Main {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2,
      "usage: graft.Main <pagesDir> <storeBase> [mult] [shufflePartitions]")
    val sfDir = args(0)
    val storeBase = args(1)
    val mult = if (args.length > 2) args(2).toInt else 1
    val spark = SparkSession.builder()
      .appName("graft-kg-pipeline")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    val partitions =
      if (args.length > 3) args(3).toInt
      else spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.shuffle.partitions", partitions.toString)
    val r = Pipeline.run(spark, sfDir, storeBase,
      partitions = partitions, mult = mult)
    println(
      s"""{"pages":${r.nPages},"triples":${r.nTriples},"nodes":${r.nNodes},""" +
        s""""audit_mismatches":${r.auditMismatches},"seconds":${r.seconds},""" +
        s""""triples_per_sec":${r.triplesPerSec}}""")
    spark.stop()
  }
}
