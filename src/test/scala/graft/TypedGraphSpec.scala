package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.canon.Canonicalize
import graft.fixtures.Corpus
import graft.link.Linker
import graft.schema.{Families, KgSchema}
import graft.store.GraphStore
import graft.triples.Triples

class TypedGraphSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val mentions = {
    val pages = Corpus.pageText(spark, TestSpark.sf0001).select("url", "text")
    Linker.mentions(pages, Corpus.aliasDict(spark, TestSpark.sf0001))
  }
  private lazy val canon = Corpus.canonicalIds(spark, TestSpark.sf0001)

  test("typed nodes conform: prefixes, declared props, embedding dims") {
    val nodes = Triples.nodesTyped(
      Triples.nodes(mentions, canon), Corpus.nodeAttrs(spark, TestSpark.sf0001))
    assert(KgSchema.nodeViolations(nodes.select("id", "label")).isEmpty)
    assert(KgSchema.nodePropViolations(nodes).isEmpty)
    // every product node carries brand/type/size scalars and a sizes array
    val prod = nodes.filter($"label" === "product")
    assert(prod.filter($"props"("brand").isNull || $"props"("type").isNull ||
      $"props"("size").isNull || $"props_arr"("sizes").isNull).count() == 0)
    // embeddings attach as array<float> where the canonical key has one
    assert(prod.filter(size($"embedding") === 64).count() > 0)
  }

  test("nodePropViolations catches undeclared keys and bad embedding dims") {
    val bad = Seq(
      ("PART:1", "product", Map("name" -> "x", "bogus" -> "y"),
        Map.empty[String, Seq[String]], Seq(1.0f, 2.0f)),
      ("CUST:1", "customer", Map("name" -> "c"),
        Map("sizes" -> Seq("1")), null.asInstanceOf[Seq[Float]]),
      ("NATION:1", "nation", Map("name" -> "n"),
        Map.empty[String, Seq[String]], null.asInstanceOf[Seq[Float]]))
      .toDF("id", "label", "props", "props_arr", "embedding")
    val v = KgSchema.nodePropViolations(bad).select("id").as[String].collect().toSet
    assert(v == Set("PART:1", "CUST:1")) // nation row is clean
  }

  test("fused edges carry multi-source props; ledger is a subset of web") {
    val web = Triples.extractEvidence(mentions, canon)
    val ledger = Corpus.ledgerFrom(Corpus.lineFacts(spark, TestSpark.sf0001, Some(canon)))
    val fused = graft.merge.MergeSources.mergeAll(Seq(web, ledger),
      keys = Seq("subject_id", "relation_label", "object_id"),
      rules = Seq(
        graft.merge.MergeSources.PipeSetUnion("sources"),
        graft.merge.MergeSources.PipeSetUnion("evidence")))
    // ordered edges exist in both sources; located_in only on the web side
    assert(fused.filter($"relation_label" === "ordered" && $"sources" =!= "ledger|web").count() == 0)
    assert(fused.filter($"relation_label" === "located_in" && $"sources" =!= "web").count() == 0)
    // evidence is a sorted pipe-set; n_pages from web, n_lines from ledger
    val r = fused.filter($"relation_label" === "ordered").head()
    val ev = r.getAs[String]("evidence").split("\\|")
    assert(ev.sorted.sameElements(ev) && ev.distinct.length == ev.length)
    assert(r.getAs[Long]("n_pages") > 0 && r.getAs[Long]("n_lines") > 0)
  }

  test("supplier/region layers conform to the widened type system") {
    val sup = Corpus.supplierNodes(spark, TestSpark.sf0001)
    val reg = Corpus.regionNodes(spark, TestSpark.sf0001)
    assert(KgSchema.nodeViolations(sup.unionByName(reg)).isEmpty)
    val supplies = Families.Standalone(spark, TestSpark.sf0001).edges("supplies")
    val inRegion = Corpus.inRegionEdges(spark, TestSpark.sf0001)
    assert(KgSchema.edgeViolations(
      supplies.select("subject_id", "relation_label", "object_id")
        .unionByName(inRegion)).isEmpty)
    // supplies objects are CANONICAL part ids (rank-1 map applied)
    assert(supplies.filter(!$"object_id".startsWith("PART:")).count() == 0)
  }

  test("schema-breadth layers conform: typed int/float/bool props and six new edge families") {
    val sf = TestSpark.sf0001
    val fam = Families.Standalone(spark, sf)
    val shaped = Seq("order", "brand", "segment", "document").map(fam.nodes)
      .map(_.withColumn("props_arr", map().cast("map<string,array<string>>"))
        .withColumn("embedding", lit(null).cast("array<float>")))
      .reduce(_ unionByName _)
    assert(KgSchema.nodeViolations(shaped.select("id", "label")).isEmpty)
    assert(KgSchema.nodePropViolations(shaped).isEmpty)
    // value-typed conformance is real: an unparseable int / float / bool
    // value on a declared typed key is a violation
    val bad = Seq(
      ("ORDER:1", "order", Map("name" -> "o", "year" -> "199x")),
      ("ORDER:2", "order", Map("name" -> "o", "totalprice" -> "12.3.4")),
      ("DOC:1", "document", Map("name" -> "d", "is_english" -> "yes")),
      ("DOC:2", "document", Map("name" -> "d", "n_chars" -> "42")))
      .toDF("id", "label", "props")
      .withColumn("props_arr", map().cast("map<string,array<string>>"))
      .withColumn("embedding", lit(null).cast("array<float>"))
    val v = KgSchema.nodePropViolations(bad).select("id").as[String].collect().toSet
    assert(v == Set("ORDER:1", "ORDER:2", "DOC:1"))
    // six new edge families pass endpoint-prefix conformance
    val edges = Seq("placed", "contains", "branded_as", "in_segment",
        "from_nation", "rated").map(fam.edges)
      .map(_.select("subject_id", "relation_label", "object_id"))
      .reduce(_ unionByName _)
    assert(KgSchema.edgeViolations(edges).isEmpty)
  }

  test("breadth block 3: all eight round-4 edge families pass endpoint-prefix conformance") {
    val sf = TestSpark.sf0001
    val fam = Families.Standalone(spark, sf)
    val edges = Seq("shares_part", "co_purchased_with", "cites", "touched",
        "peer_of", "next_order", "returned", "ships_to", "similar_to",
        "followed_by", "located_in_region", "best_supplied_by", "closest_to")
      .map(fam.edges)
      .map(_.select("subject_id", "relation_label", "object_id"))
      .reduce(_ unionByName _)
    assert(KgSchema.edgeViolations(edges).isEmpty)
    // every declared family is actually populated at fixture scale
    val present = edges.select("relation_label").distinct()
      .as[String].collect().toSet
    assert(present == Set("shares_part", "co_purchased_with", "cites",
      "touched", "peer_of", "next_order", "returned", "ships_to",
      "similar_to", "followed_by", "located_in_region",
      "best_supplied_by", "closest_to"))
  }

  test("breadth block 5: the ten parity edge families pass endpoint-prefix conformance") {
    val sf = TestSpark.sf0001
    val fam = Families.Standalone(spark, sf)
    val edges = Seq("in_family", "variant_of", "bundle_with", "regulates",
        "prefers", "bought_from", "representative_order", "charged_with",
        "dominant_lang", "handles")
      .map(fam.edges)
      .map(_.select("subject_id", "relation_label", "object_id"))
      .reduce(_ unionByName _)
    assert(KgSchema.edgeViolations(edges).isEmpty)
    // all ten populated at fixture scale; schema = full 40-type parity
    val present = edges.select("relation_label").distinct()
      .as[String].collect().toSet
    assert(present == Set("in_family", "variant_of", "bundle_with",
      "regulates", "prefers", "bought_from", "representative_order",
      "charged_with", "dominant_lang", "handles"))
    assert(KgSchema.edgeTypes.size == 40)
    // in_family objects resolve against the extended ptype vocabulary
    // (the fam_* nodes ride ptypeNodes)
    val ptypes = fam.nodes("ptype").select(col("id"))
    val dangling = fam.edges("in_family")
      .join(ptypes, col("object_id") === col("id"), "left_anti")
    assert(dangling.isEmpty)
    // the handles evidence-set cap ENGAGES at fixture scale: no group
    // carries more than HandlesBrandCap brands, and at least one group
    // in the raw data exceeds the cap (so the bound is doing work)
    val maxBrands = fam.edges("handles")
      .select(size(split(col("brands"), "\\|")).as("nb"))
      .agg(max(col("nb"))).as[Int].head()
    assert(maxBrands <= Corpus.HandlesBrandCap)
    val rawMax = Corpus.table(spark, sf, "lineitem")
      .join(Corpus.table(spark, sf, "part"),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("l_suppkey"), col("p_type"))
      .agg(countDistinct(col("p_brand")).as("nb"))
      .agg(max(col("nb"))).as[Long].head()
    assert(rawMax > Corpus.HandlesBrandCap,
      s"fixture never exceeds the cap (max distinct brands = $rawMax)")
  }

  test("taxon-checked canonicalization maps a symbol only under its organism") {
    // symbol CDC42 exists for human (9606) and yeast (4932) with different
    // canonical targets (the ppi_adapter.py:478-509 guard).
    val canonT = Seq(
      ("CDC42", 9606, "UP:P60953", 1),
      ("CDC42", 4932, "UP:P19073", 1),
      ("CDC42", 9606, "UP:DECOY", 2), // priority fallback still applies
      ("ACT1", 4932, "UP:P60010", 1))
      .toDF("raw_id", "taxon", "canonical_id", "priority")
    val facts = Seq(
      ("CDC42", 9606, "a"), ("CDC42", 4932, "b"),
      ("CDC42", 10090, "c"), // mouse: no mapping -> dropped
      ("ACT1", 9606, "d")) // wrong organism -> dropped
      .toDF("sym", "tax", "tag")
    val out = Canonicalize.canonicalizeTaxon(facts, "sym", "tax", canonT)
      .select("tag", "sym").as[(String, String)].collect().toMap
    assert(out == Map("a" -> "UP:P60953", "b" -> "UP:P19073"))
  }

  test("store: changed input fingerprint invalidates a committed snapshot") {
    val base = Files.createTempDirectory("fp_store_").toString
    val df1 = Seq((1, "a")).toDF("k", "v")
    val df2 = Seq((2, "b")).toDF("k", "v")
    val r1 = GraphStore.getOrCompute(spark, base, "s", inputFp = "fp-A")(df1)
    assert(r1.select("k").as[Int].head() == 1)
    // same fp -> resume (would NOT see df2)
    val r2 = GraphStore.getOrCompute(spark, base, "s", inputFp = "fp-A")(df2)
    assert(r2.select("k").as[Int].head() == 1)
    // changed fp -> recompute
    val r3 = GraphStore.getOrCompute(spark, base, "s", inputFp = "fp-B")(df2)
    assert(r3.select("k").as[Int].head() == 2)
    assert(GraphStore.latestSnapshot(base, "s") == 1)
  }

  test("store: bucketed commit lays out partition dirs and prunes reads") {
    val base = Files.createTempDirectory("bk_store_").toString
    val df = (0 until 1000).map(i => (i, i % 8)).toDF("k", "bucket")
    GraphStore.commit(spark, base, "nodes", df, partitionByCols = Seq("bucket"))
    val read = GraphStore.readLatest(spark, base, "nodes").get
    val one = read.filter(col("bucket") === 3)
    // physical layout: one directory per bucket, so the partition filter
    // reaches the file index (PartitionFilters in the scan) and a
    // single-bucket read touches 1/8 of the data
    val bucketDir = java.nio.file.Paths.get(
      base, "stage=nodes", "snapshot=0", "data", "bucket=3")
    assert(Files.isDirectory(bucketDir), "partitionBy must lay out bucket dirs")
    assert(spark.read.parquet(bucketDir.toString).count() == 125)
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("bucket"))
    assert(one.count() == 125)
  }
}
