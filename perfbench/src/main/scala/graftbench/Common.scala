package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Helpers shared by every harness mode. */
object Common {

  /** The session every mode uses: local[nproc] with shuffle partitions
    * = nproc, the same builder settings as `graft.Bench`. JVM-level knobs
    * (FAIR, codegen cache, local dir, heap) come from the launch options
    * the root build gives `run`. */
  def session(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, secondsSince(t0))
  }

  /** A column that hashes the same whatever the order of a map's
    * entries: maps become their entries sorted by key (xxhash64 rejects
    * maps because their order is undefined). */
  private def canonical(c: Column, dt: DataType): Column = dt match {
    case _: MapType => array_sort(map_entries(c))
    case _ => c
  }

  def hasFloat(dt: DataType): Boolean = dt match {
    case FloatType | DoubleType => true
    case a: ArrayType => hasFloat(a.elementType)
    case m: MapType => hasFloat(m.keyType) || hasFloat(m.valueType)
    case s: StructType => s.fields.exists(f => hasFloat(f.dataType))
    case _ => false
  }

  /** Order-insensitive, duplicate-sensitive content digest of a frame:
    * row count, XOR of the row hashes and the sum of their low 32 bits.
    * One action; every column is computed. */
  def digest(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.schema.fields.map(f => canonical(col(s"`${f.name}`"), f.dataType)): _*)
    val r = df.agg(count(lit(1)), bit_xor(h), sum(h.bitwiseAND(lit(0xFFFFFFFFL))))
      .head()
    val n = r.getLong(0)
    val x = if (r.isNullAt(1)) 0L else r.getLong(1)
    val s = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, f"$n:$x%016x:$s%x")
  }

  def treeBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def treeFiles(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .count(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(suffix))
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  /** Retained heap: heap still in use once the run's operations have ended,
    * read outside every timed window after a full collection. It counts what
    * the program and Spark keep after a build (caches, registries, leaks),
    * not the peak working memory of the build. Spark releases unpersisted
    * blocks and checkpointed RDDs asynchronously, through its
    * ContextCleaner, after a GC finds them unreachable; the pause and second
    * collection let that finish (the same sequence `graft.Bench` uses before
    * its pipeline phase). */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Host shape recorded with every sample. */
  def hostShape(spark: SparkSession, cpus: Int): Map[String, Any] = Map(
    "nproc" -> Runtime.getRuntime.availableProcessors,
    "local_threads" -> cpus,
    "xmx_mb" -> Runtime.getRuntime.maxMemory / 1048576,
    "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt,
    "java_version" -> System.getProperty("java.version"),
    "scheduler_mode" -> spark.sparkContext.getConf.get("spark.scheduler.mode", "FIFO"),
    "spark_version" -> spark.version)

  /** Minimal JSON writer for the harness's result line. */
  def json(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => json(x)
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => json(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => json(k.toString) + ":" + json(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(json).mkString("[", ",", "]")
    case other => json(other.toString)
  }

  /** The harness's one result line; `run.py` parses it. */
  def emit(result: Map[String, Any]): Unit = {
    println("PERFBENCH " + json(result))
    System.out.flush()
  }
}
