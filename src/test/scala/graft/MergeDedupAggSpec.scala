package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.Corpus
import graft.merge.MergeSources
import graft.merge.MergeSources.{FirstNonNull, OrderedConcat, PipeSetUnion}
import graft.dedup.PairDedup
import graft.functions.{Aggs, StringFns}

class MergeDedupAggSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("merge: full-outer fold fuses source order-preserving, scalars first-non-null, pubmeds set-union") {
    val a = Seq(("x", "y", "sA", "10|11", "mA")).toDF("k1", "k2", "source", "pubmeds", "method")
    val b = Seq(("x", "y", "sB", "11|12", "mB"), ("p", "q", "sB", "9", "mQ"))
      .toDF("k1", "k2", "source", "pubmeds", "method")
    val m = MergeSources.mergeAll(Seq(a, b), Seq("k1", "k2"),
      Seq(OrderedConcat("source"), PipeSetUnion("pubmeds"), FirstNonNull("method")))
      .as[(String, String, String, String, String)].collect().toSet
    assert(m == Set(
      ("x", "y", "sA|sB", "10|11|12", "mA"),
      ("p", "q", "sB", "9", "mQ")))
  }

  test("merge: PipeSetUnion of two absents is null") {
    val a = Seq(("x", "y", "pm")).toDF("k1", "k2", "pubmeds")
    val b = Seq(("p", "q", "v")).toDF("k1", "k2", "other")
    val m = MergeSources.merge(a, b, Seq("k1", "k2"), Seq(PipeSetUnion("pubmeds")))
    val row = m.filter($"k1" === "p").select("pubmeds").head()
    assert(row.isNullAt(0))
  }

  test("merge: commutativity of pubmed set-union across source order") {
    val a = Seq(("x", "y", "3|1")).toDF("k1", "k2", "pubmeds")
    val b = Seq(("x", "y", "2|1")).toDF("k1", "k2", "pubmeds")
    val ab = MergeSources.merge(a, b, Seq("k1", "k2"), Seq(PipeSetUnion("pubmeds")))
      .select("pubmeds").head().getString(0)
    val ba = MergeSources.merge(b, a, Seq("k1", "k2"), Seq(PipeSetUnion("pubmeds")))
      .select("pubmeds").head().getString(0)
    assert(ab == ba && ab == "1|2|3")
  }

  test("pair dedup: reciprocal rows collapse, canonical k1<=k2, best score kept") {
    val df = Seq(
      ("a", "b", "T", 5.0), ("b", "a", "T", 9.0), // reciprocal, same type
      ("a", "b", "U", 1.0),                        // different type survives
      ("c", "d", "T", 2.0)
    ).toDF("x", "y", "itype", "score")
    val r = PairDedup.dedupReciprocal(df, "x", "y", Seq("itype"),
        Seq($"score".desc, $"x".asc))
      .select("k1", "k2", "itype", "score")
      .as[(String, String, String, Double)].collect().toSet
    assert(r == Set(("a", "b", "T", 9.0), ("a", "b", "U", 1.0), ("c", "d", "T", 2.0)))
  }

  test("pair dedup idempotence") {
    val df = Seq(("a", "b", "T", 5.0), ("b", "a", "T", 9.0)).toDF("x", "y", "itype", "score")
    val once = PairDedup.dedupReciprocal(df, "x", "y", Seq("itype"), Seq($"score".desc, $"x".asc))
      .select($"k1".as("x"), $"k2".as("y"), $"itype", $"score")
    val twice = PairDedup.dedupReciprocal(once, "x", "y", Seq("itype"), Seq($"score".desc, $"x".asc))
      .select("k1", "k2", "itype", "score")
    assert(twice.count() == once.count())
  }

  test("conflict lattice truth table (tfgen_adapter.py:498-513)") {
    val cases = Seq(
      (Seq("Activation"), "Activation"),
      (Seq("Activation", "Unknown"), "Activation"),
      (Seq("Unknown"), "Unknown"),
      (Seq("Activation", "Repression"), null),
      (Seq("Activation", "Repression", "Unknown"), null))
    cases.foreach { case (in, want) =>
      val got = Seq(Tuple1(in)).toDF("st")
        .select(Aggs.conflictLattice($"st").as("e")).head()
      assert((if (got.isNullAt(0)) null else got.getString(0)) == want, s"in=$in")
    }
  }

  test("middle row picks element ceil(n/2) of the explicitly ordered group") {
    val df = Seq(("g", 1.0), ("g", 2.0), ("g", 3.0), ("g", 4.0), ("h", 7.0))
      .toDF("k", "v")
    val r = Aggs.middleRow(df, Seq("k"), Seq($"v"), "v", "mid")
      .select("k", "mid").as[(String, Double)].collect().toMap
    assert(r == Map("g" -> 2.0, "h" -> 7.0)) // ceil(4/2)=2nd, ceil(1/2)=1st
  }

  test("protein name parser golden cases (uniprot_adapter.py:890-957)") {
    val cases = Seq(
      ("Acetate kinase (EC 2.7.2.1) (Acetokinase)", Seq("Acetate kinase", "Acetokinase")),
      ("Protein X (Fragment)", Seq("Protein X")),
      ("Alpha (EC 1.1.1.1) (Beta) [Cleaved into: Gamma]", Seq("Alpha", "Beta")),
      ("Simple name", Seq("Simple name")))
    cases.foreach { case (in, want) =>
      val got = Seq(Tuple1(in)).toDF("s")
        .select(StringFns.parseProteinNames($"s")).as[Seq[String]].head()
      assert(got == want, s"in=$in got=$got")
    }
  }

  test("scalar coercion golden cases (FIXTURES.md §6)") {
    val df = Seq(("12,345", "800.0", "hsa:1017", "9606;10090")).toDF("a", "b", "c", "d")
    val r = df.select(
      StringFns.commaInt($"a"), StringFns.floatToIntString($"b"),
      StringFns.keggLocal($"c"), StringFns.takeFirst($"d"))
      .as[(Long, String, String, String)].head()
    assert(r == ((12345L, "800", "1017", "9606")))
  }

  test("ec parents golden (ec_adapter.py:383-446)") {
    val got = Seq(Tuple1("1.2.3.4")).toDF("ec")
      .select(StringFns.ecParents($"ec")).as[Seq[String]].head()
    assert(got == Seq("1.2.3.-", "1.2.-.-", "1.-.-.-"))
    val p = Seq(Tuple1("1.2.-.-")).toDF("ec")
      .select(StringFns.ecParent($"ec")).as[String].head()
    assert(p == "1.-.-.-")
  }

  test("hierarchy ancestors: diamond DAG, transitive, no self") {
    val edges = Seq(("b", "a"), ("c", "a"), ("d", "b"), ("d", "c")).toDF("child", "parent")
    val anc = graft.ontology.Hierarchy.ancestors(edges)
      .as[(String, String)].collect().toSet
    assert(anc == Set(("b", "a"), ("c", "a"), ("d", "b"), ("d", "c"), ("d", "a")))
  }

  test("bounded topK == sorted collect_set + exact count when K >= fan-in") {
    import graft.functions.BoundedAggs
    val topk = BoundedAggs.topKCount(64)
    val df = Seq(("g", "u3"), ("g", "u1"), ("g", "u2"), ("h", "u9"))
      .toDF("k", "u").repartition(7)
    val r = df.groupBy("k").agg(topk($"u").as("ev"))
      .select($"k", $"ev.items", $"ev.total")
      .as[(String, Seq[String], Long)].collect()
      .map(t => t._1 -> ((t._2, t._3))).toMap
    assert(r("g") == ((Seq("u1", "u2", "u3"), 3L)))
    assert(r("h") == ((Seq("u9"), 1L)))
  }

  test("bounded topK keeps the K smallest distinct across partitions; count stays exact") {
    import graft.functions.BoundedAggs
    val topk = BoundedAggs.topKCount(3)
    // values arrive shuffled over 8 partitions with duplicates among kept
    val vals = (0 until 200).map(i => ("g", f"v${(i * 37) % 50}%03d"))
    val df = vals.toDF("k", "u").repartition(8)
    val r = df.groupBy("k").agg(topk($"u").as("ev"))
      .select($"ev.items", $"ev.total").as[(Seq[String], Long)].head()
    assert(r._1 == Seq("v000", "v001", "v002")) // 3 smallest distinct
    assert(r._2 == 200L)                        // every input row counted
  }

  test("bounded topK: a million-witness group aggregates in O(K) reducer state") {
    import graft.functions.BoundedAggs
    val k = 32
    val topk = BoundedAggs.topKCount(k)
    val df = spark.range(1000000).select(
      lit("g").as("g"), format_string("u%09d", $"id").as("u"))
    val r = df.groupBy("g").agg(topk($"u").as("ev"))
      .select($"ev.total", $"ev.items").as[(Long, Seq[String])].head()
    assert(r._1 == 1000000L)
    assert(r._2 == (0 until k).map(i => f"u$i%09d"))
  }

  test("cappedLongList: a df=10^6 hot shingle holds O(cap) state; complete lists stay exact+sorted") {
    import graft.functions.BoundedAggs
    val cap = 500
    val agg = BoundedAggs.cappedLongList(cap)
    // one stopword-gram posting over a million docs + one normal posting
    val hotRows = spark.range(1000000).select(lit("the quick brown").as("sh"), $"id".as("doc_id"))
    val coldRows = spark.range(100).select(lit("rare gram here").as("sh"), (lit(99L) - $"id").as("doc_id"))
    val r = hotRows.unionByName(coldRows).repartition(8)
      .groupBy("sh").agg(agg($"doc_id").as("pl"))
      .select($"sh", $"pl.total", $"pl.items")
      .as[(String, Long, Seq[Long])].collect().map(x => x._1 -> (x._2, x._3)).toMap
    val (hotDf, hotItems) = r("the quick brown")
    assert(hotDf == 1000000L)              // exact df despite the cap
    assert(hotItems.length <= cap + 1)     // bounded reducer state witness
    val (coldDf, coldItems) = r("rare gram here")
    assert(coldDf == 100L)
    assert(coldItems == (0L until 100L))   // complete AND sorted (input was reversed)
  }

  test("ngramJaccardPairs with a hot shingle: bounded build == unbounded collect_list semantics") {
    import graft.textops.{DedupOps, TextOps}
    val maxDf = 5L
    // 12 docs share the trigram "x y z" (hot: df=12 > 5); the retained
    // universe is each doc's group-k tail (df=4 per tail shingle), so
    // same-group docs are full near-dups over retained shingles only.
    val docs = (0 until 12).map { i =>
      val k = i % 3
      (i.toLong, s"x y z b$k c$k d$k e$k")
    }.toDF("doc_id", "text")
    val got = DedupOps.ngramJaccardPairs(docs, "doc_id", "text", n = 3,
        tau = 0.3, maxDf = maxDf)
      .select($"id1", $"id2", $"common".cast("long"),
        $"size1".cast("long"), $"size2".cast("long"))
      .orderBy("id1", "id2").as[(Long, Long, Long, Long, Long)].collect().toSeq
    // reference: the pre-bounded formulation (full collect_list, then df filter)
    val sets = DedupOps.shingleSets(docs, "doc_id", "text", 3)
    val inv = sets.select($"doc_id", explode($"shs").as("sh"))
    val post = inv.groupBy("sh").agg(sort_array(collect_list($"doc_id")).as("ds"))
    val hot = post.filter(size($"ds") > maxDf).select("sh")
    val rinv = inv.join(hot, Seq("sh"), "left_anti")
    val szs = rinv.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val want = rinv.as("a").join(rinv.as("b"),
        $"a.sh" === $"b.sh" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("id1"), $"b.doc_id".as("id2"))
      .agg(count(lit(1)).as("common"))
      .join(szs.select($"doc_id".as("id1"), $"sz".as("size1")), "id1")
      .join(szs.select($"doc_id".as("id2"), $"sz".as("size2")), "id2")
      .filter($"common" * 1.3 >= lit(0.3) * ($"size1" + $"size2"))
      .select("id1", "id2", "common", "size1", "size2")
      .orderBy("id1", "id2").as[(Long, Long, Long, Long, Long)].collect().toSeq
    assert(got.nonEmpty && got == want)
  }

  test("pipeSetUnionCapped == pipeSetUnionAgg when K >= distinct; null on all-absent") {
    import graft.functions.BoundedAggs
    val capped = BoundedAggs.pipeSetUnionCapped(16)
    val df = Seq(("g", "3|1"), ("g", "2|1"), ("g", null), ("h", null))
      .toDF("k", "pm")
    val r = df.groupBy("k").agg(
        capped($"pm").as("c"), Aggs.pipeSetUnionAgg($"pm").as("u"))
      .collect().map(x => x.getString(0) -> (x.getString(1), x.getString(2))).toMap
    assert(r("g") == (("1|2|3", "1|2|3")))
    assert(r("h")._1 == null)
    // cap enforced: 2 smallest distinct elements only
    val capped2 = BoundedAggs.pipeSetUnionCapped(2)
    val r2 = df.filter($"k" === "g").groupBy("k").agg(capped2($"pm").as("c"))
      .select("c").as[String].head()
    assert(r2 == "1|2")
  }

  test("coOccurrencePairs preDistinct=true == default on an already-unique universe") {
    // (item, key) pairs with duplicates; bundle_with-style callers
    // distinct-and-persist the projection themselves (to derive dfs
    // and totals from the SAME universe) and pass preDistinct=true —
    // the pair sets must be identical, including under the hot-item cap.
    val raw = Seq(
      (10L, 1L), (10L, 2L), (10L, 2L), (10L, 3L),
      (20L, 2L), (20L, 3L), (20L, 3L),
      (30L, 1L), (30L, 2L), (30L, 3L), (30L, 4L), // hot item at maxDf=3
      (40L, 4L), (40L, 1L)).toDF("item", "k")
    val uniq = raw.distinct()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.select("k1", "k2", "n_common")
        .as[(Long, Long, Long)].collect().toSet
    val a = norm(PairDedup.coOccurrencePairs(raw, "item", "k", maxDf = 3))
    val b = norm(PairDedup.coOccurrencePairs(uniq, "item", "k", maxDf = 3,
      preDistinct = true))
    assert(a.nonEmpty && a == b)
  }

  /** The pair-counting kernel's definition, by brute force: a self-join
    * on item over the distinct (item, k) rows, items in more than maxDf
    * keys dropped first. */
  private def bruteCoOccurrence(raw: org.apache.spark.sql.DataFrame, maxDf: Long,
                                minCommon: Long): Set[(Long, Long, Long)] = {
    val u = raw.distinct()
    val kept = u.join(u.groupBy("item").count().filter($"count" <= maxDf)
      .select("item"), "item")
    kept.as("a").join(kept.as("b"), $"a.item" === $"b.item" && $"a.k" < $"b.k")
      .groupBy($"a.k".as("k1"), $"b.k".as("k2")).agg(count(lit(1)).as("n_common"))
      .filter($"n_common" >= minCommon)
      .as[(Long, Long, Long)].collect().toSet
  }

  /** 40 items over a pool of 24 keys (1-5 keys each, one duplicated
    * row), plus item 100 in exactly maxDf keys (kept) and item 101 in
    * maxDf + 1 keys (hot: excluded from the pair universe). */
  private def incidence(key: Int => Long, maxDf: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new scala.util.Random(11)
    val rows = (0 until 40).flatMap { i =>
      rnd.shuffle((0 until 24).toList).take(1 + rnd.nextInt(5)).map(j => (i.toLong, key(j)))
    } ++ Seq((0L, key(0)), (0L, key(0))) ++
      (0 until maxDf).map(j => (100L, key(j))) ++
      (0 to maxDf).map(j => (101L, key(23 - j)))
    rows.toDF("item", "k")
  }

  private def checkCoOccurrence(key: Int => Long): Unit = {
    val maxDf = 6
    val raw = incidence(key, maxDf)
    for (minCommon <- Seq(1L, 2L)) {
      val got = PairDedup.coOccurrencePairs(raw, "item", "k", maxDf, minCommon = minCommon)
        .select("k1", "k2", "n_common").as[(Long, Long, Long)].collect()
      val want = bruteCoOccurrence(raw, maxDf, minCommon)
      assert(got.length == got.toSet.size)
      assert(want.exists(_._3 >= 2) && got.toSet == want, s"minCommon=$minCommon")
    }
  }

  test("coOccurrencePairs == brute-force self-join count on 31-bit keys (packed count)") {
    checkCoOccurrence(j => j.toLong * 3L)
  }

  test("coOccurrencePairs == brute-force self-join count on negative and >= 2^31 keys (two-column count)") {
    checkCoOccurrence(j => if (j % 2 == 0) -1000003L * (j + 1) else (1L << 31) + 7919L * j)
  }

  test("coOccurrencePairs: an input that throws leaves nothing in the session cache") {
    // The kernel and the two family builders that persist a frame of
    // their own around it (bundle_with) or around a join (regulates),
    // each over an input with one raise_error row.
    val bad = when($"id" === 13, raise_error(lit("bad input row")))
    val n = spark.range(20)
    val builders: Seq[(String, () => DataFrame)] = Seq(
      "coOccurrencePairs" -> (() => PairDedup.coOccurrencePairs(
        n.select(($"id" % 4).as("item"), bad.otherwise($"id").cast("long").as("k")),
        "item", "k", maxDf = 8)),
      "bundleWithFrom" -> (() => Corpus.bundleWithFrom(
        n.select(($"id" % 5).as("ok"),
          bad.otherwise(concat(lit("PART:"), ($"id" % 4).cast("string"))).as("cid")))),
      "regulatesFrom" -> (() => Corpus.regulatesFrom(
        n.select(concat(lit("EVT:"), ($"id" % 3).cast("string")).as("subject_id"),
          concat(lit("EVT:"), ($"id" % 2).cast("string")).as("object_id"),
          bad.otherwise($"id").cast("long").as("n_times")))))
    builders.foreach { case (name, build) =>
      spark.catalog.clearCache()
      intercept[Exception](build())
      assert(spark.sharedState.cacheManager.isEmpty, name)
    }
  }
}
