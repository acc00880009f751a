package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.Corpus
import graft.merge.MergeSources
import graft.merge.MergeSources.{FirstNonNull, OrderedConcat, PipeSetUnion}
import graft.dedup.PairDedup
import graft.functions.{Aggs, StringFns}
import graft.queries.CoreQueries.tune
import graft.schema.Families

/** The reference's relational operator vocabulary (SURVEY.md §2.2-2.9)
  * exercised over the driver tables, each with a DuckDB oracle. The
  * per-source fixtures are carved from lineitem (FIXTURES.md §3): three
  * "databases" keyed on the same pair key, mirroring intact/biogrid/
  * string (ppi_adapter.py) and the DTI merge chain (drug_adapter.py).
  */
object RelationalQueries {

  private def li(s: SparkSession, dir: String) = Corpus.table(s, dir, "lineitem")

  /** intact-like source: top score + pubmed set per pair. */
  private def srcA(s: SparkSession, dir: String): DataFrame =
    li(s, dir).filter(pmod(col("l_linenumber"), lit(3)) === 0)
      .groupBy(
        concat(lit("P"), col("l_partkey")).as("id_a"),
        concat(lit("S"), col("l_suppkey")).as("id_b"))
      .agg(
        max(col("l_extendedprice")).as("score"),
        min(concat(col("l_returnflag"), col("l_linestatus"))).as("method"),
        Aggs.pipeSetUnionAgg(col("l_orderkey").cast("string")).as("pubmeds"))
      .withColumn("source", lit("intact"))

  /** biogrid-like source: experimental system only. */
  private def srcB(s: SparkSession, dir: String): DataFrame =
    li(s, dir).filter(pmod(col("l_linenumber"), lit(3)) === 1)
      .groupBy(
        concat(lit("P"), col("l_partkey")).as("id_a"),
        concat(lit("S"), col("l_suppkey")).as("id_b"))
      .agg(min(col("l_linestatus")).as("method"))
      .withColumn("source", lit("biogrid"))

  /** string-like source: integer combined score + its own pubmeds. */
  private def srcC(s: SparkSession, dir: String): DataFrame =
    li(s, dir).filter(pmod(col("l_linenumber"), lit(3)) === 2)
      .groupBy(
        concat(lit("P"), col("l_partkey")).as("id_a"),
        concat(lit("S"), col("l_suppkey")).as("id_b"))
      .agg(
        floor(max(col("l_quantity"))).cast("int").as("combined"),
        Aggs.pipeSetUnionAgg(col("l_orderkey").cast("string")).as("pubmeds"))
      .withColumn("source", lit("string"))

  /** DTI-chain source i (i = 1..6): one "database" per lineitem line
    * number, each with its own per-pair score, method and pubmed list —
    * the 6-source merge_all_dtis shape (drug_adapter.py:1695-1969). */
  private def dtiSrc(s: SparkSession, dir: String, i: Int): DataFrame =
    li(s, dir).filter(col("l_linenumber") === i)
      .groupBy(
        concat(lit("D"), col("l_suppkey")).as("id_a"),
        concat(lit("T"), col("l_partkey")).as("id_b"))
      .agg(
        sum(col("l_quantity")).as(s"q_$i"),
        min(concat(col("l_returnflag"), col("l_linestatus"))).as(s"m_$i"),
        Aggs.pipeSetUnionAgg(col("l_orderkey").cast("string")).as(s"pm_$i"))

  /** One census over every relationally-derived node/edge family of
    * the registry ([[graft.schema.Families]]) — (label, n) per-family
    * cardinalities. Left out: the page-derived families, which read the
    * pipeline's page sets, and near_dup_of, which has a value-level
    * oracle of its own (q_dup_edges). Shared by q_graph_census and
    * q_schema_rollup (the is_a lineage rollup over the same counts). */
  private def censusFrame(s: SparkSession, dir: String): DataFrame = {
    val fam = Families.Standalone(s, dir)
    val nodeFams = Families.nodes.map(f => fam.nodes(f.label))
      .map(_.select(col("label"), col("id").as("k")))
    val edgeFams = Families.edges
      .filter(f => f.input != Families.PageSets && f.label != "near_dup_of")
      .map(f => fam.edges(f.label))
      .map(_.select(col("relation_label").as("label"),
        concat(col("subject_id"), lit(">"), col("object_id")).as("k")))
    (nodeFams ++ edgeFams).reduce(_ unionByName _)
      .groupBy("label").agg(count(lit(1)).as("n"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J2 at reference scale: the 6-way full-outer fold with NUMERIC
    // fusion — per-source score columns kept through the chain (the
    // reference's _x/_y suffixes), then row-wise median (get_median),
    // first-non-null method by source priority, pubmed set-union
    // (merge_all_dtis, drug_adapter.py:1695-1969, :2244-2258).
    "q_merge_dti" -> ((s, dir) => {
      tune(s)
      val merged = MergeSources.mergeAll(
        (1 to 6).map(i => dtiSrc(s, dir, i)), Seq("id_a", "id_b"), Nil)
      val qs = (1 to 6).map(i => col(s"q_$i"))
      val ms = (1 to 6).map(i => col(s"m_$i"))
      val pms = (1 to 6).map(i => col(s"pm_$i"))
      merged.select(
        col("id_a"), col("id_b"),
        // median-of-sources in exact micro-units (driver contract: no
        // float columns in oracle-checked outputs; floor(+0.5) is the
        // cross-engine-safe integerization, cast semantics differ)
        floor(MergeSources.rowMedian(qs) * 1000 + 0.5).cast("long")
          .as("med_qty_milli"),
        coalesce(ms: _*).as("method"),
        concat_ws("|", array_sort(array_distinct(flatten(array(
          pms.map(p => coalesce(split(p, "\\|"), array())): _*)))))
          .as("pubmeds"),
        MergeSources.rowSourceCount(qs).cast("long").as("n_srcs"))
    }),
    // F9/O1: computed edge labels from data columns + broadcast aspect
    // whitelist (go_adapter.py:899-907 label synthesis, :1017-1078).
    "q_go_labels" -> ((s, dir) => {
      tune(s)
      val o = Corpus.table(s, dir, "orders")
      val l = li(s, dir)
      val f = o.join(l, o("o_orderkey") === l("l_orderkey"))
        .select(
          concat(lit("CUST:"), col("o_custkey")).as("subject_id"),
          lower(regexp_replace(
            regexp_replace(col("o_orderpriority"), "^[0-9]-", ""), " ", "_"))
            .as("q"),
          lower(col("l_returnflag")).as("a"),
          concat(lit("T"), col("l_partkey")).as("object_id"))
      graft.triples.DerivedLabels.whitelistFilter(f, "q", "a",
          Seq(("urgent", "r"), ("urgent", "a"), ("high", "n"), ("low", "r")))
        .select(col("subject_id"),
          graft.triples.DerivedLabels
            .derivedLabel("ordered", col("q"), col("a")).as("relation_label"),
          col("object_id"))
        .distinct()
    }),
    // J5 taxon guard: organism-checked canonicalization with priority
    // fallback — a symbol shared across taxa resolves per (symbol,
    // taxon), and taxa without a priority-1 mapping fall back to the
    // priority-2 row (ppi_adapter.py:478-509, disease_adapter
    // .py:2282-2319).
    "q_taxon_canon" -> ((s, dir) => {
      tune(s)
      val sup = Corpus.table(s, dir, "supplier")
      val facts = sup.select(
        col("s_suppkey"),
        concat(lit("SYM:"), pmod(col("s_suppkey"), lit(50))).as("sym"),
        col("s_nationkey").cast("string").as("taxon"))
      val pairs = sup.select(
        pmod(col("s_suppkey"), lit(50)).as("k"),
        col("s_nationkey").as("n")).distinct()
      val m1 = pairs.filter(pmod(col("n"), lit(2)) === 0).select(
        concat(lit("SYM:"), col("k")).as("raw_id"),
        col("n").cast("string").as("taxon"),
        concat(lit("ENT:"), col("n"), lit("_"), col("k")).as("canonical_id"),
        lit(1).as("priority"))
      val m2 = pairs.select(
        concat(lit("SYM:"), col("k")).as("raw_id"),
        col("n").cast("string").as("taxon"),
        concat(lit("ENTX:"), col("n"), lit("_"), col("k")).as("canonical_id"),
        lit(2).as("priority"))
      graft.canon.Canonicalize
        .canonicalizeTaxon(facts, "sym", "taxon", m1.unionByName(m2))
        .select(col("s_suppkey"), col("taxon"), col("sym").as("entity_id"))
    }),
    // S6 end-to-end: KEGG-style flat-file records synthesized from the
    // documents table, round-tripped through text files and the
    // lineSep-partitioned record parser (continuation lines included),
    // then pivoted back to one row per record for the oracle.
    "q_flatfile" -> ((s, dir) => {
      tune(s)
      val body = Corpus.table(s, dir, "documents").select(concat(
        lit("ENTRY       D"), col("doc_id"), lit("\n"),
        lit("NAME        doc "), col("doc_id"), lit("\n"),
        lit("SRC         "), col("source"), lit("\n"),
        lit("LANG        "), col("lang"), lit("\n"),
        lit("DESC        first line\n            second line\n"),
        lit("NCHARS      "), col("n_chars"), lit("\n"),
        lit("///")).as("value"))
      // Per-run unique scratch path (applicationId): two concurrent
      // harness runs over the same data dir must not race on one
      // directory. The result is materialized eagerly (localCheckpoint)
      // so the scratch files can be deleted before returning.
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_flatfile_" +
        s.sparkContext.applicationId
      body.coalesce(4).write.mode("overwrite").text(path)
      val out = graft.sources.FlatFile.read(s, path)
        .groupBy("record_id")
        .agg(
          max(when(col("field") === "ENTRY", col("value"))).as("entry"),
          max(when(col("field") === "NAME", col("value"))).as("name"),
          max(when(col("field") === "SRC", col("value"))).as("src"),
          max(when(col("field") === "LANG", col("value"))).as("lang"),
          max(when(col("field") === "NCHARS", col("value"))).as("nchars"),
          count(when(col("field") === "DESC", lit(1))).as("n_desc"))
        .select("entry", "name", "src", "lang", "nchars", "n_desc")
        .localCheckpoint(true)
      val d = new java.io.File(path)
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
      out
    }),
    // One census over EVERY relationally-derived node/edge family of
    // the 14-type / 25-family schema — per-label cardinalities in one
    // driver-visible artifact (the mention-derived entity nodes and
    // fused web edges have their own value-level oracles: q_nodes,
    // q_edges_props; near-dup edges: q_dup_edges).
    "q_graph_census" -> ((s, dir) => {
      tune(s)
      censusFrame(s, dir)
    }),
    // Schema is_a ROLLUP (VERDICT r5 Missing #1): per-ancestor-type
    // cardinalities over the store census — the census labels joined
    // through the declared lineage's ancestors-or-self closure
    // (KgSchema.lineageClosure, built by the same Hierarchy.ancestors
    // machinery the ontology operators use; building it IS the
    // acyclicity check). The mention-derived core entity universes
    // (product/customer/nation) join the rollup so all 14 node types
    // participate. Oracle: the closure VALUES are GENERATED from the
    // same declared lineage (the hashParams pattern).
    "q_schema_rollup" -> ((s, dir) => {
      tune(s)
      val core = Corpus.relationalEntityNodes(s, dir)
        .groupBy(col("label")).agg(count(lit(1)).as("n"))
      val census = censusFrame(s, dir).unionByName(core)
      val closure = graft.schema.KgSchema.lineageClosure(s)
      census.join(broadcast(closure), census("label") === closure("node"))
        .groupBy(col("ancestor").as("type_label"))
        .agg(sum(col("n")).as("n"))
    }),
    // Event-stream edges with typed int props (value integerized
    // per-row BEFORE the sum — summation-order-independent).
    "q_user_events" -> ((s, dir) => {
      tune(s)
      Families.Standalone(s, dir).edges("performed")
    }),
    // Document-metadata edges carrying the language node's int prop.
    "q_doc_graph" -> ((s, dir) => {
      tune(s)
      val fam = Families.Standalone(s, dir)
      fam.edges("written_in").join(
        fam.nodes("language")
          .select(col("id").as("object_id"),
            col("props")("n_docs").cast("long").as("n_docs")),
        "object_id")
        .select("subject_id", "relation_label", "object_id", "n_docs")
    }),
    // J1/J2: the signature ordered full-outer fold + column fusion.
    "q_merge_edges" -> ((s, dir) => {
      tune(s)
      MergeSources.mergeAll(
        Seq(srcA(s, dir), srcB(s, dir), srcC(s, dir)),
        keys = Seq("id_a", "id_b"),
        rules = Seq(OrderedConcat("source"), FirstNonNull("method"),
          PipeSetUnion("pubmeds")))
    }),
    // §2.5: reciprocal pair dedup (canonical pair + top-1 by score).
    "q_pair_dedup" -> ((s, dir) => {
      tune(s)
      val pairs = li(s, dir).select(
        concat(lit("E"), pmod(col("l_partkey"), lit(40))).as("x"),
        concat(lit("E"), pmod(col("l_suppkey"), lit(40))).as("y"),
        col("l_returnflag").as("itype"),
        col("l_extendedprice").as("score"))
        .filter(col("x") =!= col("y")) // P7 self-loop removal
      PairDedup.dedupReciprocal(pairs, "x", "y", Seq("itype"),
          Seq(col("score").desc, col("x").asc))
        .select("k1", "k2", "itype", "score")
    }),
    // A1: top-1 per group after score sort.
    "q_top1_per_group" -> ((s, dir) => {
      tune(s)
      Aggs.top1PerGroup(Corpus.table(s, dir, "orders"),
          Seq("o_custkey"), Seq(col("o_totalprice").desc, col("o_orderkey").asc))
        .select("o_custkey", "o_orderkey", "o_totalprice")
    }),
    // A4: exact median per group.
    "q_median" -> ((s, dir) => {
      tune(s)
      li(s, dir).groupBy("l_returnflag")
        .agg(Aggs.medianAgg(col("l_quantity")).as("med_qty"))
    }),
    // A2: set-union concat of multi-value column + distinct count.
    "q_set_union" -> ((s, dir) => {
      tune(s)
      li(s, dir).groupBy("l_orderkey").agg(
        Aggs.pipeSetUnionAgg(col("l_returnflag")).as("flags"),
        countDistinct(col("l_partkey")).as("n_parts"))
    }),
    // A5: middle-row pick per group (explicit-order formulation).
    "q_middle_row" -> ((s, dir) => {
      tune(s)
      Aggs.middleRow(li(s, dir), Seq("l_orderkey"),
          Seq(col("l_extendedprice"), col("l_partkey"), col("l_linenumber")),
          "l_extendedprice", "mid")
        .select("l_orderkey", "mid")
    }),
    // A6: conflict lattice ('P' plays Unknown).
    "q_conflict_lattice" -> ((s, dir) => {
      tune(s)
      Corpus.table(s, dir, "orders").groupBy("o_custkey")
        .agg(collect_set(col("o_orderstatus")).as("st"))
        .select(col("o_custkey"),
          Aggs.conflictLattice(col("st"), unknown = "P").as("effect"))
    }),
    // P2: allow-list semi-join filter.
    "q_semi_join" -> ((s, dir) => {
      tune(s)
      val rich = Corpus.table(s, dir, "customer").filter(col("c_acctbal") > 5000)
      Corpus.table(s, dir, "orders")
        .join(broadcast(rich), col("o_custkey") === col("c_custkey"), "left_semi")
        .select("o_orderkey", "o_custkey")
    }),
    // P3: anti-join drop.
    "q_anti_join" -> ((s, dir) => {
      tune(s)
      val rich = Corpus.table(s, dir, "customer").filter(col("c_acctbal") > 5000)
      Corpus.table(s, dir, "orders")
        .join(broadcast(rich), col("o_custkey") === col("c_custkey"), "left_anti")
        .select("o_orderkey", "o_custkey")
    }),
    // F10: EC-code hierarchy derivation + explode.
    "q_ec_hierarchy" -> ((s, dir) => {
      tune(s)
      val p = Corpus.table(s, dir, "part").select(
        col("p_partkey"),
        concat_ws(".",
          (pmod(col("p_partkey"), lit(7)) + 1),
          (pmod(floor(col("p_partkey") / 7).cast("long"), lit(7)) + 1),
          (pmod(floor(col("p_partkey") / 49).cast("long"), lit(7)) + 1),
          (pmod(floor(col("p_partkey") / 343).cast("long"), lit(7)) + 1)).as("ec"))
      p.select(col("p_partkey"), col("ec"),
        explode(StringFns.ecParents(col("ec"))).as("parent"))
    }),
    // F3: protein-name parser over synthesized gnarly strings.
    "q_protein_names" -> ((s, dir) => {
      tune(s)
      val p = Corpus.table(s, dir, "part").select(
        col("p_partkey"),
        concat(
          col("p_name"), lit(" (EC 2.7.2."), pmod(col("p_partkey"), lit(10)),
          lit(") ("), upper(col("p_name")), lit(")"),
          when(col("p_size") > 20, lit(" (Fragment)")).otherwise(lit("")),
          when(pmod(col("p_size"), lit(5)) === 0,
            lit(" [Cleaved into: junk]")).otherwise(lit(""))).as("raw"))
      val parsed = p.withColumn("names", StringFns.parseProteinNames(col("raw")))
      parsed.select(
        col("p_partkey"),
        element_at(col("names"), 1).as("primary_name"),
        concat_ws("|", slice(col("names"), lit(2), size(col("names")))).as("aliases"))
    }),
    // O-family: transitive ancestors via iterative self-join.
    "q_ontology_ancestors" -> ((s, dir) => {
      tune(s)
      val nat = Corpus.table(s, dir, "nation").select(
        concat(lit("N"), col("n_nationkey")).as("child"),
        concat(lit("R"), col("n_regionkey")).as("parent"))
      val reg = Corpus.table(s, dir, "region").select(
        concat(lit("R"), col("r_regionkey")).as("child"),
        lit("ROOT").as("parent"))
      graft.ontology.Hierarchy.ancestors(nat.unionByName(reg))
    }),
    // J7: nested-loop-in-reference → derived-key equi-join here.
    "q_derived_key_join" -> ((s, dir) => {
      tune(s)
      val p = Corpus.table(s, dir, "part").select("p_partkey", "p_name")
      p.alias("a").join(p.alias("b"),
          col("a.p_name") === col("b.p_name") &&
          col("a.p_partkey") < col("b.p_partkey"))
        .select(col("a.p_partkey").as("k1"), col("b.p_partkey").as("k2"),
          col("a.p_name").as("name"))
    }),
    // Time-window aggregation over the events table (streaming-shaped;
    // the Structured Streaming equivalence is asserted in ScalaTest).
    "q_events_hourly" -> ((s, dir) => {
      tune(s)
      graft.streaming.StreamOps.hourlyAgg(Corpus.table(s, dir, "events"))
    }),
    // Gap-based sessionization (session_window; batch ≡ streaming
    // asserted in StoreStreamSpec) — the oracle rebuilds the sessions
    // relationally via gaps-and-islands: new session iff the gap to the
    // previous event is >= the 12h window, exactly Spark's
    // strict-less-than merge rule.
    "q_user_sessions" -> ((s, dir) => {
      tune(s)
      graft.streaming.StreamOps.userSessions(Corpus.table(s, dir, "events"))
    }),
    // Multimodal plumbing: binary media column -> batch feature extract
    // (decode stubbed; rows-only — floats + engine-local stub).
    "q_media_features" -> ((s, dir) => {
      tune(s)
      graft.multimodal.Multimodal.extractFeatures(
        graft.multimodal.Multimodal.mediaFromDocuments(
          Corpus.table(s, dir, "documents")))
        .toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"), col("n_bytes"))
    }),
    // Resize over image + audio rows: binary-in/binary-out with new
    // metadata. Images take the REAL decode→nearest-neighbor→BMP
    // re-encode path (output size = 54 + 8*24 exactly); audio takes the
    // decimation stub (stride = ceil(n/cap), out = ceil(n/stride)) —
    // both output lengths integer-only, fully oracle-checked.
    "q_media_resize" -> ((s, dir) => {
      tune(s)
      graft.multimodal.Multimodal.resize(
        graft.multimodal.Multimodal.mediaFromDocuments(
          Corpus.table(s, dir, "documents"))
          .filter(col("kind").isin("image", "audio")), 8, 8)
        .toDF()
        .select(col("doc_id"), col("kind"), col("width"), col("height"),
          length(col("media")).cast("int").as("n_out"))
    }),
    // Frame sampling over the video rows: the one-row-to-many-rows
    // (bounded) batch shape; integer-only arithmetic, so the sampled
    // (doc_id, frame_idx, n_bytes) set is fully oracle-checked.
    "q_media_frames" -> ((s, dir) => {
      tune(s)
      graft.multimodal.Multimodal.sampleFrames(
        graft.multimodal.Multimodal.mediaFromDocuments(
          Corpus.table(s, dir, "documents"))
          .filter(col("kind") === "video"))
        .toDF()
        .select(col("doc_id"), col("frame_idx"), col("n_bytes"))
    })
  )

  private val censusSql: String =
    """WITH pc AS (
        |  SELECT p_partkey, min(p_partkey) OVER (PARTITION BY p_name) AS pid
        |  FROM part),
        |sp AS (
        |  SELECT sk, pid FROM (
        |    SELECT sk, pid, count(*) OVER (PARTITION BY pid) df FROM (
        |      SELECT DISTINCT l.l_suppkey sk, pc.pid
        |      FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey))
        |  WHERE df <= 65536),
        |op AS (
        |  SELECT ok, pk FROM (
        |    SELECT ok, pk, count(*) OVER (PARTITION BY pk) df FROM (
        |      SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem))
        |  WHERE df <= 65536),
        |docfp AS (
        |  SELECT doc_id,
        |         list_reduce([0] || list_transform(string_split(text, ' '),
        |           t -> (ord(t[1])*7 + length(t)) % 1048576),
        |           (a,b) -> (a*31+b) % 1048576) fp,
        |         (SELECT count(*) FROM documents) n
        |  FROM documents)
        |SELECT 'supplier' AS "label", CAST(count(*) AS BIGINT) n FROM supplier
        |UNION ALL SELECT 'region', CAST(count(*) AS BIGINT) FROM region
        |UNION ALL SELECT 'brand', CAST(count(DISTINCT p_brand) AS BIGINT) FROM part
        |UNION ALL SELECT 'segment', CAST(count(DISTINCT c_mktsegment) AS BIGINT) FROM customer
        |UNION ALL SELECT 'document', CAST(count(*) AS BIGINT) FROM documents
        |UNION ALL SELECT 'order', CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'ptype',
        |  CAST(count(DISTINCT p_type)
        |       + count(DISTINCT string_split(p_name, ' ')[2]) AS BIGINT) FROM part
        |UNION ALL SELECT 'user', CAST(count(DISTINCT user_id) AS BIGINT) FROM events
        |UNION ALL SELECT 'event_type', CAST(count(DISTINCT event_type) AS BIGINT) FROM events
        |UNION ALL SELECT 'language', CAST(count(DISTINCT lang) AS BIGINT) FROM documents
        |UNION ALL SELECT 'source', CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |UNION ALL SELECT 'in_region', CAST(count(*) AS BIGINT) FROM nation
        |UNION ALL SELECT 'placed', CAST(count(*) AS BIGINT) FROM orders
        |UNION ALL SELECT 'in_segment', CAST(count(*) AS BIGINT) FROM customer
        |UNION ALL SELECT 'from_nation', CAST(count(*) AS BIGINT) FROM supplier
        |UNION ALL SELECT 'branded_as', CAST(count(DISTINCT p_name) AS BIGINT) FROM part
        |UNION ALL SELECT 'supplies', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l.l_suppkey, pc.pid
        |        FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey)
        |UNION ALL SELECT 'contains', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l.l_orderkey, pc.pid
        |        FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey)
        |UNION ALL SELECT 'rated', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l.l_suppkey, pc.pid
        |        FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
        |        WHERE l.l_linenumber BETWEEN 1 AND 6)
        |UNION ALL SELECT 'of_type', CAST(count(DISTINCT p_name) AS BIGINT) FROM part
        |UNION ALL SELECT 'performed', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT user_id, event_type FROM events)
        |UNION ALL SELECT 'written_in', CAST(count(*) AS BIGINT) FROM documents
        |UNION ALL SELECT 'from_source', CAST(count(*) AS BIGINT) FROM documents
        |UNION ALL SELECT 'fulfills', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l_suppkey, l_orderkey FROM lineitem)
        |UNION ALL SELECT 'shares_part', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT a.sk, b.sk s2 FROM sp a
        |        JOIN sp b ON a.pid = b.pid AND a.sk < b.sk)
        |UNION ALL SELECT 'co_purchased_with', CAST(count(*) AS BIGINT)
        |  FROM (SELECT a.ok, b.ok o2 FROM op a
        |        JOIN op b ON a.pk = b.pk AND a.ok < b.ok
        |        GROUP BY 1, 2 HAVING count(*) >= 2)
        |UNION ALL SELECT 'cites', CAST(count(*) AS BIGINT)
        |  FROM docfp WHERE fp % n <> doc_id
        |UNION ALL SELECT 'touched', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT e.user_id,
        |               CAST(regexp_extract(e.props, '"k": ([0-9]+)', 1) AS BIGINT) k
        |        FROM events e) x JOIN documents d ON d.doc_id = x.k
        |UNION ALL SELECT 'peer_of',
        |  CAST(count(*) - count(DISTINCT c_nationkey||'|'||c_mktsegment) AS BIGINT)
        |  FROM customer
        |UNION ALL SELECT 'next_order',
        |  CAST(count(*) - count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'returned', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT o.o_custkey, pc.pid
        |        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |        JOIN pc ON pc.p_partkey = l.l_partkey
        |        WHERE l.l_returnflag = 'R')
        |UNION ALL SELECT 'ships_to', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l.l_suppkey, c.c_nationkey
        |        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |        JOIN customer c ON c.c_custkey = o.o_custkey)
        |UNION ALL SELECT 'similar_to', CAST(count(*) AS BIGINT)
        |  FROM (__SIMHASH_RAW__)
        |UNION ALL SELECT 'followed_by', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT prev, event_type FROM (
        |          SELECT event_type, lag(event_type) OVER (
        |            PARTITION BY user_id ORDER BY ts, event_id) prev
        |          FROM events)
        |        WHERE prev IS NOT NULL)
        |UNION ALL SELECT 'located_in_region', CAST(count(*) AS BIGINT) FROM customer
        |UNION ALL SELECT 'best_supplied_by', CAST(count(DISTINCT pc.pid) AS BIGINT)
        |  FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
        |UNION ALL SELECT 'closest_to', CAST(count(*) AS BIGINT)
        |  FROM (SELECT CAST(replace(min('PARTRAW:' || p_partkey), 'PARTRAW:', '') AS BIGINT) minkey
        |        FROM part GROUP BY p_name) mk
        |  JOIN embeddings e ON e.vec_id = mk.minkey
        |UNION ALL SELECT 'in_family', CAST(count(DISTINCT p_name) AS BIGINT) FROM part
        |UNION ALL SELECT 'variant_of',
        |  CAST(count(DISTINCT p_name)
        |       - count(DISTINCT string_split(p_name, ' ')[2]) AS BIGINT) FROM part
        |UNION ALL SELECT 'bundle_with', CAST(count(*) AS BIGINT)
        |  FROM (SELECT a.pid, b.pid p2
        |        FROM (SELECT DISTINCT l.l_orderkey ok, pc.pid
        |              FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey) a
        |        JOIN (SELECT DISTINCT l.l_orderkey ok, pc.pid
        |              FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey) b
        |          ON a.ok = b.ok AND a.pid < b.pid
        |        GROUP BY 1, 2 HAVING count(*) >= 2)
        |UNION ALL SELECT 'regulates', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT prev, event_type FROM (
        |          SELECT event_type, lag(event_type) OVER (
        |            PARTITION BY user_id ORDER BY ts, event_id) prev
        |          FROM events)
        |        WHERE prev IS NOT NULL)
        |UNION ALL SELECT 'prefers', CAST(count(*) AS BIGINT)
        |  FROM (SELECT user_id, event_type, count(*) n,
        |               sum(count(*)) OVER (PARTITION BY user_id) tot
        |        FROM events GROUP BY 1, 2)
        |  WHERE n >= 2 AND floor((n*1000) / tot) >= 250
        |UNION ALL SELECT 'bought_from', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT o.o_custkey, l.l_suppkey
        |        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey)
        |UNION ALL SELECT 'representative_order',
        |  CAST(count(DISTINCT o_custkey) AS BIGINT) FROM orders
        |UNION ALL SELECT 'charged_with', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l.l_orderkey, p.p_type
        |        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)
        |UNION ALL SELECT 'dominant_lang',
        |  CAST(count(DISTINCT source) AS BIGINT) FROM documents
        |UNION ALL SELECT 'handles', CAST(count(*) AS BIGINT)
        |  FROM (SELECT DISTINCT l.l_suppkey, p.p_type
        |        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey)""".stripMargin
      .replace("__SIMHASH_RAW__",
        graft.queries.TextQueries.simhashSqlOver(
          "SELECT doc_id, text FROM documents"))

  /** The is_a rollup oracle: the census counts (plus the three core
    * entity universes) joined through the ancestors-or-self closure
    * GENERATED from the same declared lineage the engine rolls up with
    * (KgSchema.lineagePairsWithSelf — the hashParams pattern: one
    * source of truth feeds both engines). */
  private val schemaRollupSql: String = {
    val closureValues = graft.schema.KgSchema.lineagePairsWithSelf
      .map { case (n, a) => s"('$n','$a')" }.mkString(", ")
    s"""WITH census AS (
       |$censusSql
       |UNION ALL SELECT 'product', CAST(count(DISTINCT p_name) AS BIGINT) FROM part
       |UNION ALL SELECT 'customer', CAST(count(*) AS BIGINT) FROM customer
       |UNION ALL SELECT 'nation', CAST(count(*) AS BIGINT) FROM nation),
       |closure(node, ancestor) AS (VALUES $closureValues)
       |SELECT cl.ancestor type_label, CAST(sum(c.n) AS BIGINT) n
       |FROM census c JOIN closure cl ON cl.node = c."label"
       |GROUP BY 1""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "q_graph_census" -> censusSql,
    "q_schema_rollup" -> schemaRollupSql,
    "q_user_events" ->
      """SELECT 'USER:'||user_id subject_id, 'performed' relation_label,
        |       'EVT:'||event_type object_id,
        |       CAST(count(*) AS BIGINT) n_events,
        |       CAST(sum(CAST(floor("value"*1000+0.5) AS BIGINT)) AS BIGINT) value_milli
        |FROM events GROUP BY 1, 2, 3""".stripMargin,
    "q_doc_graph" ->
      """WITH l AS (SELECT lang, CAST(count(*) AS BIGINT) n_docs
        |           FROM documents GROUP BY 1)
        |SELECT 'DOC:'||d.doc_id subject_id, 'written_in' relation_label,
        |       'LANG:'||d.lang object_id, l.n_docs
        |FROM documents d JOIN l ON l.lang = d.lang""".stripMargin,
    // Per-pair per-source rows rebuilt directly: median over the present
    // sources' sums == the engine's row-wise median after the 6-way
    // fold; arg_min(m, i) == first-non-null in source order.
    "q_merge_dti" ->
      """WITH src AS (
        |  SELECT 'D'||l_suppkey id_a, 'T'||l_partkey id_b, l_linenumber i,
        |         sum(l_quantity) q,
        |         min(l_returnflag||l_linestatus) m,
        |         list_sort(list_distinct(list(CAST(l_orderkey AS VARCHAR)))) pm
        |  FROM lineitem WHERE l_linenumber BETWEEN 1 AND 6
        |  GROUP BY 1, 2, 3)
        |SELECT id_a, id_b,
        |       CAST(floor(median(q) * 1000 + 0.5) AS BIGINT) med_qty_milli,
        |       arg_min(m, i) AS "method",
        |       array_to_string(list_sort(list_distinct(flatten(list(pm)))), '|') pubmeds,
        |       CAST(count(*) AS BIGINT) n_srcs
        |FROM src GROUP BY 1, 2""".stripMargin,
    "q_go_labels" ->
      """WITH f AS (
        |  SELECT 'CUST:'||o.o_custkey subject_id,
        |         lower(replace(regexp_replace(o.o_orderpriority, '^[0-9]-', ''), ' ', '_')) q,
        |         lower(l.l_returnflag) a,
        |         'T'||l.l_partkey object_id
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey)
        |SELECT DISTINCT subject_id, 'ordered_'||q||'_'||a relation_label, object_id
        |FROM f
        |WHERE (q='urgent' AND a='r') OR (q='urgent' AND a='a')
        |   OR (q='high' AND a='n') OR (q='low' AND a='r')""".stripMargin,
    "q_taxon_canon" ->
      """SELECT s_suppkey, CAST(s_nationkey AS VARCHAR) taxon,
        |       CASE WHEN s_nationkey % 2 = 0
        |            THEN 'ENT:'||s_nationkey||'_'||(s_suppkey % 50)
        |            ELSE 'ENTX:'||s_nationkey||'_'||(s_suppkey % 50) END entity_id
        |FROM supplier""".stripMargin,
    "q_flatfile" ->
      """SELECT 'D'||doc_id entry, 'doc '||doc_id AS "name", source src, lang,
        |       CAST(n_chars AS VARCHAR) nchars, CAST(2 AS BIGINT) n_desc
        |FROM documents""".stripMargin,
    "q_merge_edges" ->
      """WITH a AS (
        |  SELECT 'P'||l_partkey id_a, 'S'||l_suppkey id_b,
        |         max(l_extendedprice) score,
        |         min(l_returnflag||l_linestatus) AS "method",
        |         array_to_string(list_sort(list_distinct(list(CAST(l_orderkey AS VARCHAR)))),'|') pubmeds
        |  FROM lineitem WHERE l_linenumber%3=0 GROUP BY 1,2),
        |b AS (
        |  SELECT 'P'||l_partkey id_a, 'S'||l_suppkey id_b,
        |         min(l_linestatus) AS "method"
        |  FROM lineitem WHERE l_linenumber%3=1 GROUP BY 1,2),
        |c AS (
        |  SELECT 'P'||l_partkey id_a, 'S'||l_suppkey id_b,
        |         CAST(floor(max(l_quantity)) AS INT) combined,
        |         array_to_string(list_sort(list_distinct(list(CAST(l_orderkey AS VARCHAR)))),'|') pubmeds
        |  FROM lineitem WHERE l_linenumber%3=2 GROUP BY 1,2),
        |ab AS (
        |  SELECT coalesce(a.id_a,b.id_a) id_a, coalesce(a.id_b,b.id_b) id_b,
        |         a.score, coalesce(a."method",b."method") AS "method", a.pubmeds pubs_a,
        |         CASE WHEN a.id_a IS NOT NULL THEN 'intact' END f_a,
        |         CASE WHEN b.id_a IS NOT NULL THEN 'biogrid' END f_b
        |  FROM a FULL OUTER JOIN b ON a.id_a=b.id_a AND a.id_b=b.id_b)
        |SELECT coalesce(ab.id_a,c.id_a) id_a, coalesce(ab.id_b,c.id_b) id_b,
        |       ab.score, ab."method",
        |       array_to_string(list_sort(list_distinct(
        |         coalesce(string_split(ab.pubs_a,'|'),[]) ||
        |         coalesce(string_split(c.pubmeds,'|'),[]))),'|') pubmeds,
        |       concat_ws('|', ab.f_a, ab.f_b,
        |         CASE WHEN c.id_a IS NOT NULL THEN 'string' END) source,
        |       c.combined
        |FROM ab FULL OUTER JOIN c ON ab.id_a=c.id_a AND ab.id_b=c.id_b""".stripMargin,
    "q_pair_dedup" ->
      """SELECT least(x,y) k1, greatest(x,y) k2, itype, max(score) score
        |FROM (SELECT 'E'||(l_partkey%40) x, 'E'||(l_suppkey%40) y,
        |             l_returnflag itype, l_extendedprice score FROM lineitem)
        |WHERE x <> y GROUP BY 1,2,3""".stripMargin,
    "q_top1_per_group" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |           ORDER BY o_totalprice DESC, o_orderkey ASC) rn
        |  FROM orders) WHERE rn = 1""".stripMargin,
    "q_median" ->
      """SELECT l_returnflag, round(median(l_quantity), 3) med_qty
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_set_union" ->
      """SELECT l_orderkey,
        |       array_to_string(list_sort(list_distinct(list(l_returnflag))),'|') flags,
        |       count(DISTINCT l_partkey) n_parts
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_middle_row" ->
      """SELECT l_orderkey,
        |       (list(l_extendedprice ORDER BY l_extendedprice, l_partkey, l_linenumber))
        |         [CAST(ceil(count(*)/2.0) AS INT)] mid
        |FROM lineitem GROUP BY 1""".stripMargin,
    "q_conflict_lattice" ->
      """SELECT o_custkey,
        |  CASE WHEN count(DISTINCT CASE WHEN o_orderstatus<>'P' THEN o_orderstatus END) = 1
        |         THEN min(CASE WHEN o_orderstatus<>'P' THEN o_orderstatus END)
        |       WHEN count(DISTINCT CASE WHEN o_orderstatus<>'P' THEN o_orderstatus END) = 0
        |         THEN 'P'
        |       ELSE NULL END AS effect
        |FROM orders GROUP BY 1""".stripMargin,
    "q_semi_join" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)""".stripMargin,
    "q_anti_join" ->
      """SELECT o_orderkey, o_custkey FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey AND c.c_acctbal > 5000)""".stripMargin,
    "q_ec_hierarchy" ->
      """WITH comp AS (
        |  SELECT p_partkey,
        |         (p_partkey%7)+1 a, ((p_partkey//7)%7)+1 b,
        |         ((p_partkey//49)%7)+1 c, ((p_partkey//343)%7)+1 d
        |  FROM part)
        |SELECT p_partkey, a||'.'||b||'.'||c||'.'||d ec, a||'.'||b||'.'||c||'.-' parent FROM comp
        |UNION ALL
        |SELECT p_partkey, a||'.'||b||'.'||c||'.'||d, a||'.'||b||'.-.-' FROM comp
        |UNION ALL
        |SELECT p_partkey, a||'.'||b||'.'||c||'.'||d, a||'.-.-.-' FROM comp""".stripMargin,
    "q_protein_names" ->
      """SELECT p_partkey, p_name AS primary_name, upper(p_name) AS aliases
        |FROM part""".stripMargin,
    "q_ontology_ancestors" ->
      """SELECT 'N'||n_nationkey AS node, 'R'||n_regionkey AS ancestor FROM nation
        |UNION
        |SELECT 'N'||n_nationkey, 'ROOT' FROM nation
        |UNION
        |SELECT 'R'||r_regionkey, 'ROOT' FROM region""".stripMargin,
    "q_derived_key_join" ->
      """SELECT a.p_partkey k1, b.p_partkey k2, a.p_name AS "name"
        |FROM part a JOIN part b
        |  ON a.p_name = b.p_name AND a.p_partkey < b.p_partkey""".stripMargin,
    // image rows: width/height are the REAL dims ImageIO reads back
    // from the synthesized BMP (= synthBmpDims(doc_id)), n_bytes the
    // exact BMP size 54 + h*((3w+3)//4*4); audio/video rows keep the
    // documented stub arithmetic over the text-byte payload
    "q_media_features" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id%3=0 THEN 'image'
        |       WHEN doc_id%3=1 THEN 'audio' ELSE 'video' END kind,
        |  CAST(CASE WHEN doc_id%3=0 THEN 4 + doc_id%12
        |       ELSE 64 + (strlen(text) % 577) END AS INT) width,
        |  CAST(CASE WHEN doc_id%3=0 THEN 4 + (doc_id*7)%10
        |       ELSE 64 + ((strlen(text)*31) % 431) END AS INT) height,
        |  CAST(CASE WHEN doc_id%3=0
        |       THEN 54 + (4 + (doc_id*7)%10) * ((3*(4 + doc_id%12) + 3)//4*4)
        |       ELSE strlen(text) END AS INT) n_bytes
        |FROM documents""".stripMargin,
    // image rows re-encode as an 8x8 BMP = exactly 54 + 8*24 = 246
    // bytes; audio rows mirror Multimodal.resizeStub at cap 8x8=64:
    // payloads <= 64 pass through (n_out = n); larger ones decimate to
    // ceil(n / ceil(n/64)) bytes — pure integer arithmetic
    "q_media_resize" ->
      """SELECT doc_id, 'image' kind, CAST(8 AS INT) width,
        |       CAST(8 AS INT) height, CAST(246 AS INT) n_out
        |FROM documents WHERE doc_id % 3 = 0
        |UNION ALL
        |SELECT doc_id, 'audio', CAST(8 AS INT), CAST(8 AS INT),
        |       CAST(CASE WHEN n <= 64 THEN n
        |            ELSE CAST(ceil(n / CAST(ceil(n / 64.0) AS BIGINT)) AS BIGINT)
        |            END AS INT)
        |FROM (SELECT doc_id, strlen(text) n FROM documents WHERE doc_id % 3 = 1)""".stripMargin,
    // mirrors Multimodal.sampleFrames(frameSize=16, everyNth=4,
    // maxFrames=8) over the video third of the media table; fixture
    // text is ASCII so strlen == media byte length (same convention as
    // q_media_features above)
    "q_media_frames" ->
      """WITH m AS (
        |  SELECT doc_id, strlen(text) n FROM documents WHERE doc_id % 3 = 2),
        |f AS (
        |  SELECT doc_id, n,
        |         unnest(generate_series(0, CAST(ceil(n / 16.0) AS BIGINT) - 1)) idx
        |  FROM m),
        |s AS (
        |  SELECT doc_id, idx, n,
        |         row_number() OVER (PARTITION BY doc_id ORDER BY idx) rn
        |  FROM f WHERE idx % 4 = 0)
        |SELECT doc_id, CAST(idx AS BIGINT) frame_idx,
        |       CAST(least(16, n - idx*16) AS INT) n_bytes
        |FROM s WHERE rn <= 8""".stripMargin,
    "q_user_sessions" ->
      """WITH e AS (
        |  SELECT user_id, ts, event_id,
        |         CAST(floor(value * 1000 + 0.5) AS BIGINT) vm,
        |         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
        |                ORDER BY ts, event_id) < INTERVAL 12 HOUR
        |              THEN 0 ELSE 1 END new_sess
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, vm,
        |         sum(new_sess) OVER (PARTITION BY user_id
        |           ORDER BY ts, event_id
        |           ROWS UNBOUNDED PRECEDING) sid
        |  FROM e)
        |SELECT user_id,
        |       strftime(min(ts), '%Y-%m-%d %H:%M:%S') session_start,
        |       count(*) n_events, CAST(sum(vm) AS BIGINT) value_milli
        |FROM s GROUP BY user_id, sid""".stripMargin,
    "q_events_hourly" ->
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M') AS "hour",
        |       event_type, count(*) n,
        |       CAST(sum(CAST(floor(value * 1000000) AS BIGINT)) AS BIGINT) sum_value_micros,
        |       min(user_id) min_user
        |FROM events GROUP BY 1,2""".stripMargin
  )
}
