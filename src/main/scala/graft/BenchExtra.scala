package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Supplementary measurement main (guide §1.4): noop-sink isolation of
  * query components and named sub-stages, so optimization work can be
  * attributed to the operator that actually moved. NOT part of the
  * frozen driver contract — Bench.scala remains the only artifact the
  * driver parses; numbers from here are cited in OPTIMIZATION_r07.md.
  *
  * The cp_* entries run the steps of the pair-counting kernel
  * (PairDedup.postings / pairStream / countPairs) one stage at a time;
  * they call those steps, so they measure the code the families run.
  *
  * Usage: SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchExtra [names...]"
  * Each named component is built and written to the noop sink `reps`
  * times (SPARK_GRAFT_REPS, default 3); prints one line per rep plus
  * the median.
  */
object BenchExtra {

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.queries.CoreQueries.tune(spark)

    import graft.fixtures.Corpus
    import graft.link.Linker
    import graft.triples.Triples
    import graft.dedup.PairDedup

    // The co_purchased kernel input, unique (item = part, k = order),
    // and the pair-counting kernel's own steps over it.
    val maxDf = Corpus.CoOccurrenceMaxDf
    def cpItemKeys(): DataFrame = Corpus.lineFacts(spark, sfDir, None)
      .select(col("pk").as("item"), col("ok").cast("long").as("k")).distinct()
    def cpPostings(): DataFrame = PairDedup.postings(cpItemKeys(), maxDf)
    def cpPairs(): DataFrame = PairDedup.pairStream(cpPostings(), maxDf)

    /** Named components: each is a fresh DataFrame builder. */
    val components: Seq[(String, () => DataFrame)] = Seq(
      "fixture_pages" -> (() => Corpus.pages(spark, sfDir)
        .select(col("url"), graft.extract.HtmlText.htmlText(col("html")).as("text"))),
      "canon_ids" -> (() => Corpus.canonicalIds(spark, sfDir)),
      "mentions_only" -> (() => {
        val pages = Corpus.pages(spark, sfDir)
          .select(col("url"), graft.extract.HtmlText.htmlText(col("html")).as("text"))
        Linker.mentions(pages, Corpus.aliasDict(spark, sfDir))
      }),
      "pagesets" -> (() => {
        val pages = Corpus.pages(spark, sfDir)
          .select(col("url"), graft.extract.HtmlText.htmlText(col("html")).as("text"))
        val mentions = Linker.mentions(pages, Corpus.aliasDict(spark, sfDir))
        Triples.perPageEntitySets(mentions, Corpus.canonicalIds(spark, sfDir))
      }),
      "q_triples" -> (() => SparkEntry.queries("q_triples")(spark, sfDir)),
      "q_mentions" -> (() => SparkEntry.queries("q_mentions")(spark, sfDir)),
      "q_cc" -> (() => SparkEntry.queries("q_cc")(spark, sfDir)),
      "q_merge_edges" -> (() => SparkEntry.queries("q_merge_edges")(spark, sfDir)),
      "q_pair_dedup" -> (() => SparkEntry.queries("q_pair_dedup")(spark, sfDir)),
      "q_ngram_jaccard" -> (() => SparkEntry.queries("q_ngram_jaccard")(spark, sfDir)),
      "q_knn_lsh" -> (() => SparkEntry.queries("q_knn_lsh")(spark, sfDir)),
      "q_knn_ivf" -> (() => SparkEntry.queries("q_knn_ivf")(spark, sfDir)),
      "evidence" -> (() => {
        val pages = Corpus.pages(spark, sfDir)
          .select(col("url"), graft.extract.HtmlText.htmlText(col("html")).as("text"))
        val mentions = Linker.mentions(pages, Corpus.aliasDict(spark, sfDir))
        val canon = Corpus.canonicalIds(spark, sfDir)
        Triples.evidenceFromSets(
          Triples.perPageEntitySets(mentions, canon), canon,
          salts = Triples.DefaultEvidenceSalts)
      }),
      "lineFacts" -> (() =>
        Corpus.lineFacts(spark, sfDir, Some(Corpus.canonicalIds(spark, sfDir)))),
      "shares_part" -> (() =>
        Corpus.sharesPartFrom(
          Corpus.lineFacts(spark, sfDir, Some(Corpus.canonicalIds(spark, sfDir))))),
      "bundle_with" -> (() =>
        Corpus.bundleWithFrom(
          Corpus.lineFacts(spark, sfDir, Some(Corpus.canonicalIds(spark, sfDir))))),
      "co_purchased" -> (() =>
        Corpus.coPurchasedFrom(
          Corpus.lineFacts(spark, sfDir, Some(Corpus.canonicalIds(spark, sfDir))))),
      "touched" -> (() => Corpus.touchedEdges(spark, sfDir)),
      // coOccurrencePairs decomposition (co_purchased shape): each entry
      // runs one more kernel step than the one before
      "cp_distinct" -> (() => cpItemKeys()),
      "cp_postings" -> (() => cpPostings()),
      "cp_pairs" -> (() => cpPairs()),
      // Reference-width embedding evidence (VERDICT r6 Missing #3): the
      // reference's vectors are 1024/1280-d float16 (ProtT5 / ESM), the
      // fixtures 64-d. These entries tile each fixture vector to 1024-d
      // deterministically (16 scaled copies) and run the real kernels at
      // that width: per-row SRP signature + full centroid-distance map
      // (vec1024_cols), and the complete IVF-SQ8 ANN query path
      // (vec1024_sq8) — C=16 fixed centroids at dim=1024, same
      // parameters as q_knn_sq8 otherwise.
      "vec1024_cols" -> (() => {
        val wide = Corpus.table(spark, sfDir, "embeddings")
          .select(col("vec_id").as("id"),
            flatten(transform(sequence(lit(0), lit(15)), r =>
              transform(col("embedding"),
                x => (x * (lit(1.0f) + r.cast("float") / lit(16.0f))).cast("float")))).as("emb"))
        val cents = graft.sim.Ivf.fixedCentroids(16, 1024)
        wide.select(col("id"),
          graft.functions.VectorExprs.srpSig(col("emb"), 6, 0).as("sig"),
          graft.functions.VectorExprs.centroidDists(col("emb"), cents).as("cd"))
      }),
      "vec1024_sq8" -> (() => {
        val wide = Corpus.table(spark, sfDir, "embeddings")
          .select(col("vec_id").as("id"),
            flatten(transform(sequence(lit(0), lit(15)), r =>
              transform(col("embedding"),
                x => (x * (lit(1.0f) + r.cast("float") / lit(16.0f))).cast("float")))).as("emb"))
        graft.sim.Quant.ivfTopKSq8(wide, k = 5, nprobe = 4, maxList = 4096,
          centroids = graft.sim.Ivf.fixedCentroids(16, 1024))
      }),
      // the two-column count: the path that keys outside [0, 2^31) take
      "cp_grouped" -> (() => PairDedup.countPairs(cpPairs(), packed = false)))

    val counters = new graft.metrics.TaskCounters
    spark.sparkContext.addSparkListener(counters)
    val wanted =
      if (args.nonEmpty) components.filter(c => args.contains(c._1))
      else components
    val out = wanted.map { case (name, f) =>
      spark.sparkContext.setJobDescription(name)
      val repRows = (0 until reps).map { _ =>
        graft.metrics.TaskCounters.drain(spark.sparkContext)
        val c0 = counters.snapshot
        val t0 = System.nanoTime()
        f().write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        graft.metrics.TaskCounters.drain(spark.sparkContext)
        val d = counters.snapshot.zip(c0).map { case (a, b) => a - b }
        (sec, d(1) / 1e9, d(2) / 1e6)
      }.sortBy(_._1)
      spark.sparkContext.setJobDescription(null)
      val (med, cpu, shufW) = repRows(repRows.size / 2)
      println(f"[extra] $name%-16s median=$med%.2fs cpu=$cpu%.2fs " +
        f"shufW=${shufW}%.1fMB reps=${repRows.map(t => f"${t._1}%.2f").mkString(",")} " +
        f"cpus=${repRows.map(t => f"${t._2}%.1f").mkString(",")}")
      name -> med
    }
    println("{\"metric\":\"bench_extra\",\"sf\":\"" + sfDir + "\",\"components\":{" +
      out.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }.mkString(",") + "}}")
    spark.stop()
  }
}
