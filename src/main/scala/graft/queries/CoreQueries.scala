package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.Corpus
import graft.extract.HtmlText
import graft.link.Linker
import graft.schema.Families
import graft.triples.Triples

/** Core KG-construction pipeline queries (north-rule stages 1-4), each
  * paired with an ANSI-SQL DuckDB oracle that rebuilds the expected value
  * relationally — so the whole text → mention → link → canonicalize →
  * triple path is verified end-to-end against an independent engine.
  */
object CoreQueries {

  /** Runtime session tuning every query applies (Verify/Bench build the
    * session; these are the runtime-mutable knobs we rely on). */
  def tune(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // semantics-preserving native-kernel rewrites (idempotent)
    graft.ext.GraftExtensions.install(spark)
    spark
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Stage 0: the deterministic corpus itself.
    "q_pages_text" -> ((s, dir) => {
      tune(s)
      Corpus.pageText(s, dir).select("url", "text", "lang")
    }),
    // Stage 1: byte-identical extraction — extractor applied to the html
    // bytes must reproduce the text column; DuckDB rebuilds the text
    // relationally, so any extractor byte drift fails the hash compare.
    "q_extract_text" -> ((s, dir) => {
      tune(s)
      Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
    }),
    // Stage 0-ingest over the REAL webtext wire format: the corpus
    // serialized as uncompressed WARC (response records wrapped in an
    // HTTP envelope + a warcinfo record per partition), re-read with
    // the marker-split distributed reader, envelope stripped, text
    // extracted from the html bytes. Every 101st record is written
    // with a truncated Content-Length and must be DROPPED (the source
    // skip-bad-record contract) — the oracle excludes those orders, so
    // both over-keeping and over-dropping fail the hash compare.
    "q_warc_read" -> ((s, dir) => {
      tune(s)
      val recs = Corpus.pages(s, dir)
        .select(
          col("url"),
          date_format(col("warc_ts"), "yyyy-MM-dd'T'00:00:00'Z'").as("wdate"),
          concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=UTF-8\r\n\r\n"),
            decode(col("html"), "UTF-8")).as("payload"))
        .withColumn("plen", octet_length(col("payload")).cast("long"))
        .withColumn("decl",
          when(substring(col("url"), 16, 32).cast("long") % 101 === 0,
            col("plen") - 7).otherwise(col("plen")))
        .select(concat(
          lit("WARC/1.0\r\n"),
          lit("WARC-Type: response\r\n"),
          lit("WARC-Target-URI: "), col("url"), lit("\r\n"),
          lit("WARC-Date: "), col("wdate"), lit("\r\n"),
          lit("Content-Type: application/http; msgtype=response\r\n"),
          lit("Content-Length: "), col("decl"), lit("\r\n\r\n"),
          col("payload"), lit("\r\n\r\n")).as("value"))
      val info = s.range(1).select(concat(
        lit("WARC/1.0\r\n"),
        lit("WARC-Type: warcinfo\r\n"),
        lit("Content-Type: application/warc-fields\r\n"),
        lit("Content-Length: 25\r\n\r\n"),
        lit("software: graft-synth 1.0"), lit("\r\n\r\n")).as("value"))
      val path = s"${System.getProperty("java.io.tmpdir")}/graft_warc_" +
        s.sparkContext.applicationId + "_" + java.util.UUID.randomUUID()
      recs.unionByName(info).coalesce(4).write.mode("overwrite").text(path)
      val out = graft.sources.Warc.read(s, path)
        .filter(col("warc_type") === "response" && col("http_status") === "200")
        .select(
          col("target_uri").as("url"),
          col("warc_date").as("fetched_at"),
          HtmlText.htmlText(encode(col("body"), "UTF-8")).as("text"))
        .localCheckpoint(true)
      val d = new java.io.File(path)
      Option(d.listFiles()).foreach(_.foreach(_.delete()))
      d.delete()
      out
    }),
    // Stage 2a: dictionary rank-1 resolution (priority fallback).
    "q_link_dict" -> ((s, dir) => {
      tune(s)
      Linker.resolveDict(Corpus.aliasDict(s, dir))
    }),
    // Stage 2b: mention detection + linking over the extracted text.
    "q_mentions" -> ((s, dir) => {
      tune(s)
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      Linker.mentions(pages, Corpus.aliasDict(s, dir))
        .select("url", "alias", "entity_label").distinct()
    }),
    // Stage 4: connected components over the same-name chain graph.
    "q_cc" -> ((s, dir) => {
      tune(s)
      val verts = Corpus.table(s, dir, "part")
        .select(concat(lit("PARTRAW:"), col("p_partkey")).as("v"))
      graft.cc.ConnectedComponents.run(s, Corpus.partSameNameEdges(s, dir), Some(verts))
    }),
    // Stages 1-4 end-to-end: the flagship triple set.
    "q_triples" -> ((s, dir) => {
      tune(s)
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      val mentions = Linker.mentions(pages, Corpus.aliasDict(s, dir))
      Triples.extract(mentions, Corpus.canonicalIds(s, dir))
    }),
    // §2.11 driver-visible: the SAME flagship triple set built by the
    // STREAMING path — pages arriving through a real FILE SOURCE in
    // micro-batches (`maxFilesPerTrigger=1`, the production shape of a
    // landing-directory ingest; never a corpus-sized driver collect),
    // each batch committing idempotent mention + triple snapshots into
    // the store via foreachBatch; the result is the union of batch
    // snapshots with the read-side distinct the append-only contract
    // prescribes. Oracle: identical SQL to q_triples — streamed ≡
    // batch is checked by the DRIVER, not just ScalaTest.
    "q_stream_triples" -> ((s, dir) => {
      tune(s)
      val dict = Corpus.aliasDict(s, dir)
      val canon = Corpus.canonicalIds(s, dir).localCheckpoint(true)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_streamq_" +
        s.sparkContext.applicationId + "_" + java.util.UUID.randomUUID()
      val inDir = s"$base/in"
      // distributed write: the corpus lands as 3 parquet files = 3
      // micro-batches; the driver never holds a page
      Corpus.pages(s, dir).select(col("url"), col("html"))
        .repartition(3).write.mode("overwrite").parquet(inDir)
      val streamIn = s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = graft.streaming.StreamOps
        .triplesIntoStore(streamIn, dict, canon, s"$base/store").start()
      try {
        q.processAllAvailable()
        graft.store.GraphStore
          .readAllSnapshots(s, s"$base/store", "triples_stream")
          .get.distinct().localCheckpoint(true)
      } finally { // a failed batch must not leak the tmp store
        q.stop()
        graft.store.GraphStore.deleteRecursively(java.nio.file.Path.of(base))
      }
    }),
    // §2.11 incremental canonicalization, driver-visible: ALL pages
    // arrive in batch 0 under an alias-free canon (every part its own
    // cluster), every cluster-merging alias arrives in batch 1 — the
    // worst case for a stale canonicalization. The rewrite-map +
    // correction-snapshot machinery must converge the store to the
    // batch answer, and the oracle (same SQL as q_triples) checks it
    // value-by-value in DuckDB.
    "q_stream_inc_triples" -> ((s, dir) => {
      tune(s)
      val dict = Corpus.aliasDict(s, dir)
      val base = s"${System.getProperty("java.io.tmpdir")}/graft_streaminc_" +
        s.sparkContext.applicationId + "_" + java.util.UUID.randomUUID()
      val inDir = s"$base/in"
      val store = s"$base/store"
      // The CDC-shaped event log lands as parquet files — pages first,
      // the cluster-merging aliases in a LATER micro-batch (the worst
      // case for a stale canonicalization). Late arrival is REAL, not
      // mtime-forged (r5 Wrong #2 — File.setLastModified is racy on
      // object stores and can silently fail): only the page files exist
      // when the stream starts; after processAllAvailable has drained
      // them, the alias file is appended to the live directory and
      // drained in a second phase — the file source's new-file discovery
      // IS the ordering. Distributed end to end — no driver collect.
      Corpus.pages(s, dir)
        .select(lit("page").as("kind"), col("url"), col("html"),
          lit(null).cast("string").as("src"), lit(null).cast("string").as("dst"))
        .repartition(2).write.mode("overwrite").parquet(inDir)
      val streamIn = s.readStream.schema(s.read.parquet(inDir).schema)
        .option("maxFilesPerTrigger", "1").parquet(inDir)
      val q = graft.streaming.StreamOps.kgIncrementalIntoStore(
        streamIn, dict,
        edges => Corpus.canonicalIdsFrom(s, dir, edges), store).start()
      try {
        q.processAllAvailable() // phase 1: all pages under the stale canon
        Corpus.partSameNameEdges(s, dir)
          .select(lit("alias").as("kind"), lit(null).cast("string").as("url"),
            lit(null).cast("binary").as("html"),
            col("src"), col("dst"))
          .coalesce(1).write.mode("append").parquet(inDir)
        q.processAllAvailable() // phase 2: the merging aliases arrive late
        graft.streaming.StreamOps.resolvedStreamTriples(s, store)
          .localCheckpoint(true)
      } finally { // a failed batch must not leak the tmp store
        q.stop()
        graft.store.GraphStore.deleteRecursively(java.nio.file.Path.of(base))
      }
    }),
    // §2.5 at pipeline level: canonical-pair dedup of co-mentioned
    // products per page (the ppi reciprocal-dedup pattern applied to
    // web co-occurrence).
    "q_co_ordered" -> ((s, dir) => {
      tune(s)
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      val mentions = Linker.mentions(pages, Corpus.aliasDict(s, dir))
      val canon = Corpus.canonicalIds(s, dir)
      val prod = graft.canon.Canonicalize.canonicalize(
        mentions.filter(col("entity_label") === "product")
          .select(col("url"), col("entity_id")), "entity_id", canon)
        .select(col("url"), col("entity_id").as("pid")).distinct()
      prod.alias("a").join(prod.alias("b"),
          col("a.url") === col("b.url") && col("a.pid") < col("b.pid"))
        .select(col("a.pid").as("k1"), col("b.pid").as("k2"))
        .distinct()
    }),
    // Stage 2c: broadcast-trie matcher over the multi-token dictionary
    // (3/4-token aliases — beyond the uni+bigram join matcher's reach).
    "q_mentions_trie" -> ((s, dir) => {
      tune(s)
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      Linker.mentions(pages, Corpus.multiTokenDict(s, dir))
        .select("url", "alias", "entity_label").distinct()
    }),
    // Stage 2d: ambiguous-alias candidates (trie, no drop) broken by
    // TF-IDF cosine re-rank against per-entity context profiles.
    "q_mentions_ranked" -> ((s, dir) => {
      tune(s)
      val rv = Corpus.reviews(s, dir)
      val cands = Linker.mentionsTrie(rv, Corpus.reviewDict(s, dir))
        .select("url", "alias", "entity_id").distinct()
      Linker.rerank(cands, rv, Corpus.partProfiles(s, dir))
    }),
    // Typed node emission: per-label props, multi-value props_arr,
    // embedding column — flattened to scalars for the oracle (driver
    // contract: no map/array/float columns in checked outputs).
    "q_nodes_props" -> ((s, dir) => {
      tune(s)
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      val mentions = Linker.mentions(pages, Corpus.aliasDict(s, dir))
      val base = Triples.nodes(mentions, Corpus.canonicalIds(s, dir))
      Triples.nodesTyped(base, Corpus.nodeAttrs(s, dir))
        .select(
          col("id"), col("label"),
          col("props")("name").as("name"),
          col("props")("brand").as("brand"),
          col("props")("type").as("mtype"),
          array_join(col("props_arr")("sizes"), "|").as("sizes"),
          coalesce(size(col("embedding")), lit(0)).as("emb_dims"))
    }),
    // Multi-source edge fusion: web co-mention edges merged with ledger
    // edges — sources/evidence set-union fused, per-source counts passed
    // through (reference ppi merge_all, ppi_adapter.py:1268-1303).
    "q_edges_props" -> ((s, dir) => {
      tune(s)
      import graft.merge.MergeSources
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      val mentions = Linker.mentions(pages, Corpus.aliasDict(s, dir))
      val canon = Corpus.canonicalIds(s, dir)
      val web = Triples.extractEvidence(mentions, canon)
      val ledger = Corpus.ledgerFrom(Corpus.lineFacts(s, dir, Some(canon)))
      MergeSources.mergeAll(Seq(web, ledger),
          keys = Seq("subject_id", "relation_label", "object_id"),
          rules = Seq(
            MergeSources.PipeSetUnion("sources"),
            MergeSources.PipeSetUnion("evidence")))
        .select(col("subject_id"), col("relation_label"), col("object_id"),
          col("sources"), col("evidence"),
          coalesce(col("n_pages"), lit(0L)).as("n_pages"),
          coalesce(col("n_lines"), lit(0L)).as("n_lines"))
    }),
    // Purely relational KG layers (no text-mention source — the
    // reference's link-table adapters): typed supplier/region nodes and
    // supplies/in_region edges, canonicalized through the same map.
    "q_supply_edges" -> ((s, dir) => {
      tune(s)
      Families.Standalone(s, dir).edges("supplies")
    }),
    "q_typed_layers" -> ((s, dir) => {
      tune(s)
      Corpus.supplierNodes(s, dir).unionByName(Corpus.regionNodes(s, dir))
        .select(col("id"), col("label"), col("props")("name").as("name"))
        .unionByName(Corpus.inRegionEdges(s, dir)
          .select(col("subject_id").as("id"),
            col("relation_label").as("label"),
            col("object_id").as("name")))
    }),
    // Schema breadth: order nodes with int/float/bool typed props —
    // the props map carries round(_,3) floats, a comma-grouped int
    // parsed via StringFns.commaInt, and a bool; the oracle compares
    // integerized forms (driver contract: no float columns).
    "q_order_nodes" -> ((s, dir) => {
      tune(s)
      Corpus.orderNodes(s, dir).select(
        col("id"), col("label"),
        col("props")("name").as("name"),
        col("props")("priority").as("priority"),
        floor(col("props")("totalprice").cast("double") * 1000 + 0.5)
          .cast("long").as("totalprice_milli"),
        col("props")("totalprice_floor").cast("long").as("totalprice_floor"),
        col("props")("year").cast("int").as("year"),
        col("props")("is_urgent").as("is_urgent"))
    }),
    // Schema breadth: the six new typed edge families flattened onto a
    // uniform (subject, label, object, p_int, p_milli) projection.
    "q_typed_edges" -> ((s, dir) => {
      tune(s)
      val fam = Families.Standalone(s, dir)
      val nullL = lit(null).cast("long")
      fam.edges("placed")
        .select(col("subject_id"), col("relation_label"), col("object_id"),
          col("year").as("p_int"), nullL.as("p_milli"))
        .unionByName(fam.edges("contains")
          .select(col("subject_id"), col("relation_label"), col("object_id"),
            col("quantity").as("p_int"),
            (col("extendedprice_cents") * 10).as("p_milli")))
        .unionByName(fam.edges("branded_as")
          .select(col("subject_id"), col("relation_label"), col("object_id"),
            nullL.as("p_int"), nullL.as("p_milli")))
        .unionByName(fam.edges("in_segment")
          .select(col("subject_id"), col("relation_label"), col("object_id"),
            nullL.as("p_int"), nullL.as("p_milli")))
        .unionByName(fam.edges("from_nation")
          .select(col("subject_id"), col("relation_label"), col("object_id"),
            nullL.as("p_int"), nullL.as("p_milli")))
        .unionByName(fam.edges("rated")
          .select(col("subject_id"), col("relation_label"), col("object_id"),
            col("n_srcs").as("p_int"), col("med_qty_milli").as("p_milli")))
    }),
    // Node emission (id, label, name) — map props checked rows-only
    // elsewhere; here the flat projection is oracle-checked.
    "q_nodes" -> ((s, dir) => {
      tune(s)
      val pages = Corpus.pages(s, dir)
        .select(col("url"), HtmlText.htmlText(col("html")).as("text"))
      val mentions = Linker.mentions(pages, Corpus.aliasDict(s, dir))
      Triples.nodes(mentions, Corpus.canonicalIds(s, dir))
        .select(col("id"), col("label"), col("props")("name").as("name"))
    })
  )

  /** DuckDB oracle SQL. Table names are the bare parquet stem names.
    * NOTE: component/canonical ids are LEXICOGRAPHIC minima over the
    * 'PARTRAW:<k>' strings (CC runs on string vertex ids), while the
    * linker's rank-1 pick is the NUMERIC-min partkey (priority column is
    * int) — the oracle reproduces both, which is exactly why the
    * broadcast canonicalization stage is observable in q_triples. */
  private[queries] val pageTextSql =
    """SELECT 'https://ex.org/' || o.o_orderkey AS url,
      |  'Order ' || o.o_orderkey || ' was placed by ' || c.c_name ||
      |  ' from ' || n.n_name || ' with priority ' || o.o_orderpriority ||
      |  ' on ' || strftime(o.o_orderdate, '%Y-%m-%d') ||
      |  '. Items: ' || coalesce(i.items, 'none') || '.' AS text
      |FROM orders o
      |JOIN customer c ON o.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |LEFT JOIN (
      |  SELECT l.l_orderkey,
      |         string_agg(p.p_name, ', ' ORDER BY l.l_linenumber, p.p_name) AS items
      |  FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
      |  GROUP BY l.l_orderkey) i ON i.l_orderkey = o.o_orderkey""".stripMargin

  /** The flagship triple-set oracle, bound ONCE: q_triples (batch),
    * q_stream_triples (micro-batched) and q_stream_inc_triples
    * (late-alias corrected) all assert equality against this same
    * definition — that sharing IS the streamed ≡ batch claim, and a
    * future change to the flagship semantics cannot silently diverge
    * one of the three. */
  private val flagshipTriplesSql =
    """WITH pc AS (
      |  SELECT p_partkey,
      |         'PART:' || replace(min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name), 'PARTRAW:', '') AS pid
      |  FROM part)
      |SELECT DISTINCT 'CUST:' || o.o_custkey AS subject_id,
      |       'ordered' AS relation_label, pc.pid AS object_id
      |FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |JOIN pc ON pc.p_partkey = l.l_partkey
      |UNION
      |SELECT DISTINCT 'CUST:' || c.c_custkey, 'located_in', 'NATION:' || c.c_nationkey
      |FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey""".stripMargin

  private val mentionsSql =
    """WITH pages AS (SELECT o_orderkey, 'https://ex.org/' || o_orderkey AS url, o_custkey FROM orders)
      |SELECT DISTINCT pg.url, c.c_name AS alias, 'customer' AS entity_label
      |FROM pages pg JOIN customer c ON pg.o_custkey = c.c_custkey
      |UNION
      |SELECT DISTINCT pg.url, n.n_name, 'nation'
      |FROM pages pg JOIN customer c ON pg.o_custkey = c.c_custkey
      |JOIN nation n ON c.c_nationkey = n.n_nationkey
      |UNION
      |SELECT DISTINCT pg.url, p.p_name, 'product'
      |FROM pages pg JOIN lineitem l ON l.l_orderkey = pg.o_orderkey
      |JOIN part p ON p.p_partkey = l.l_partkey""".stripMargin

  private val mentionsTrieSql =
    mentionsSql +
      """
        |UNION
        |SELECT DISTINCT 'https://ex.org/' || o.o_orderkey,
        |       c.c_name || ' from ' || n.n_name, 'cust_loc'
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |UNION
        |SELECT DISTINCT 'https://ex.org/' || o.o_orderkey,
        |       'with priority ' || o.o_orderpriority, 'priority'
        |FROM orders o""".stripMargin

  /** Full TF-IDF re-rank rebuilt relationally: integer tf/df/weights,
    * one final double sqrt+division (IEEE-identical across engines). */
  private val mentionsRankedSql =
    """WITH rv AS (
      |  SELECT DISTINCT
      |    'https://rev.ex.org/' || l.l_orderkey || '-' || l.l_linenumber
      |      || '-' || p.p_partkey AS url,
      |    'Review of ' || p.p_name || ' by ' || p.p_brand || ' type '
      |      || p.p_type || ' size ' || p.p_size || ' rating good' AS text,
      |    p.p_name AS alias
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
      |  WHERE l.l_orderkey % 10 = 0),
      |toks AS (SELECT url, unnest(string_split(text, ' ')) tok FROM rv),
      |dfv AS (SELECT tok, count(DISTINCT url) df FROM toks GROUP BY 1),
      |w AS (SELECT tok, 1000000 // (df + 1) w FROM dfv),
      |tfw AS (
      |  SELECT t.url, t.tok, t.tfp, w.w FROM
      |    (SELECT url, tok, count(*) tfp FROM toks GROUP BY 1,2) t
      |  JOIN w USING (tok)),
      |np AS (SELECT url, sum(tfp*tfp*w*w) np FROM tfw GROUP BY 1),
      |prof AS (
      |  SELECT 'PARTRAW:' || p_partkey entity_id, p_name,
      |         p_name || ' ' || p_brand || ' ' || p_type || ' size ' || p_size ptext
      |  FROM part),
      |ptw AS (
      |  SELECT p.entity_id, p.tok, p.tfe, coalesce(w.w, 1000000) we FROM
      |    (SELECT entity_id, tok, count(*) tfe FROM
      |       (SELECT entity_id, unnest(string_split(ptext, ' ')) tok FROM prof)
      |     GROUP BY 1,2) p
      |  LEFT JOIN w ON w.tok = p.tok),
      |ne AS (SELECT entity_id, sum(tfe*tfe*we*we) ne FROM ptw GROUP BY 1),
      |cands AS (
      |  SELECT DISTINCT rv.url, rv.alias, pr.entity_id
      |  FROM rv JOIN prof pr ON pr.p_name = rv.alias),
      |num AS (
      |  SELECT c.url, c.alias, c.entity_id, sum(t.tfp * p.tfe * p.we * p.we) num
      |  FROM cands c
      |  JOIN ptw p ON p.entity_id = c.entity_id
      |  JOIN tfw t ON t.url = c.url AND t.tok = p.tok
      |  GROUP BY 1,2,3),
      |scored AS (
      |  SELECT c.url, c.alias, c.entity_id,
      |    CAST(coalesce(n.num, 0) AS DOUBLE)
      |      / sqrt(CAST(np.np AS DOUBLE) * CAST(ne.ne AS DOUBLE)) cos
      |  FROM cands c
      |  LEFT JOIN num n ON n.url = c.url AND n.alias = c.alias
      |    AND n.entity_id = c.entity_id
      |  JOIN np ON np.url = c.url
      |  JOIN ne ON ne.entity_id = c.entity_id)
      |SELECT url, alias, entity_id FROM (
      |  SELECT url, alias, entity_id,
      |         row_number() OVER (PARTITION BY url, alias
      |           ORDER BY cos DESC, entity_id) rn
      |  FROM scored)
      |WHERE rn = 1""".stripMargin

  private val nodesPropsSql =
    """WITH pc AS (
      |  SELECT p_name,
      |         CAST(replace(min('PARTRAW:' || p_partkey), 'PARTRAW:', '') AS BIGINT) minkey,
      |         list_sort(list_distinct(list(CAST(p_size AS VARCHAR)))) sizes
      |  FROM part GROUP BY p_name),
      |mentioned_parts AS (
      |  SELECT DISTINCT p.p_name FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |mentioned_custs AS (SELECT DISTINCT o_custkey FROM orders)
      |SELECT 'PART:' || pc.minkey id, 'product' AS "label", pc.p_name "name",
      |       pm.p_brand brand, pm.p_type mtype,
      |       array_to_string(pc.sizes, '|') sizes,
      |       coalesce(len(e.embedding), 0) emb_dims
      |FROM mentioned_parts mp JOIN pc ON pc.p_name = mp.p_name
      |JOIN part pm ON pm.p_partkey = pc.minkey
      |LEFT JOIN embeddings e ON e.vec_id = pc.minkey
      |UNION ALL
      |SELECT 'CUST:' || c.c_custkey, 'customer', c.c_name, NULL, NULL, NULL, 0
      |FROM customer c JOIN mentioned_custs m ON m.o_custkey = c.c_custkey
      |UNION ALL
      |SELECT DISTINCT 'NATION:' || n.n_nationkey, 'nation', n.n_name, NULL, NULL, NULL, 0
      |FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
      |JOIN mentioned_custs m ON m.o_custkey = c.c_custkey""".stripMargin

  /** Oracle mirror of the engine's bounded witness aggregation
    * (BoundedAggs.topKCount, cap = Triples.DefaultEvidenceCap = 1024):
    * each SOURCE's evidence list is the 1024 smallest distinct urls
    * (list slice AFTER sort/distinct), while the counts stay exact —
    * the same way the q_knn_lsh oracle models maxBucket. At fixture
    * scale no edge reaches the cap, but the oracle must model the
    * semantics, not rely on that. */
  private val edgesPropsSql =
    """WITH pc AS (
      |  SELECT p_partkey,
      |         'PART:' || replace(min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name), 'PARTRAW:', '') AS pid
      |  FROM part),
      |ord AS (
      |  SELECT DISTINCT 'CUST:' || o.o_custkey s, pc.pid obj,
      |         'https://ex.org/' || o.o_orderkey url
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN pc ON pc.p_partkey = l.l_partkey),
      |web_ord AS (
      |  SELECT s subject_id, 'ordered' relation_label, obj object_id,
      |         array_to_string((list_sort(list(url)))[1:1024], '|') evidence,
      |         count(*) n_pages
      |  FROM ord GROUP BY 1,2,3),
      |loc AS (
      |  SELECT DISTINCT 'CUST:' || o.o_custkey s, 'NATION:' || c.c_nationkey obj,
      |         'https://ex.org/' || o.o_orderkey url
      |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
      |web_loc AS (
      |  SELECT s subject_id, 'located_in' relation_label, obj object_id,
      |         array_to_string((list_sort(list(url)))[1:1024], '|') evidence,
      |         count(*) n_pages
      |  FROM loc GROUP BY 1,2,3),
      |ledger AS (
      |  SELECT 'CUST:' || o.o_custkey subject_id, 'ordered' relation_label,
      |         pc.pid object_id,
      |         array_to_string((list_sort(list_distinct(list('https://ex.org/' || o.o_orderkey))))[1:1024], '|') evidence,
      |         count(*) n_lines
      |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      |  JOIN pc ON pc.p_partkey = l.l_partkey
      |  GROUP BY 1,2,3),
      |all_src AS (
      |  SELECT subject_id, relation_label, object_id, 'web' src, evidence,
      |         n_pages, CAST(NULL AS BIGINT) n_lines FROM web_ord
      |  UNION ALL
      |  SELECT subject_id, relation_label, object_id, 'web', evidence,
      |         n_pages, NULL FROM web_loc
      |  UNION ALL
      |  SELECT subject_id, relation_label, object_id, 'ledger', evidence,
      |         NULL, n_lines FROM ledger)
      |SELECT subject_id, relation_label, object_id,
      |  array_to_string(list_sort(list_distinct(list(src))), '|') sources,
      |  array_to_string(list_sort(list_distinct(flatten(list(string_split(evidence, '|'))))), '|') evidence,
      |  CAST(coalesce(max(n_pages), 0) AS BIGINT) n_pages,
      |  CAST(coalesce(max(n_lines), 0) AS BIGINT) n_lines
      |FROM all_src GROUP BY 1,2,3""".stripMargin

  private val typedEdgesSql =
    """WITH pc AS (
      |  SELECT p_partkey,
      |         'PART:' || replace(min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name), 'PARTRAW:', '') AS pid
      |  FROM part),
      |pcanon AS (
      |  SELECT p_name,
      |         CAST(replace(min('PARTRAW:' || p_partkey), 'PARTRAW:', '') AS BIGINT) minkey
      |  FROM part GROUP BY p_name)
      |SELECT 'CUST:'||o_custkey subject_id, 'placed' relation_label,
      |       'ORDER:'||o_orderkey object_id,
      |       CAST(year(o_orderdate) AS BIGINT) p_int, CAST(NULL AS BIGINT) p_milli
      |FROM orders
      |UNION ALL
      |SELECT 'ORDER:'||l.l_orderkey, 'contains', pc.pid,
      |       CAST(floor(sum(l.l_quantity)) AS BIGINT),
      |       10 * sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
      |FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
      |GROUP BY 1, 2, 3
      |UNION ALL
      |SELECT 'PART:'||pcanon.minkey, 'branded_as',
      |       'BRAND:'||replace(p.p_brand, ' ', '_'), NULL, NULL
      |FROM pcanon JOIN part p ON p.p_partkey = pcanon.minkey
      |UNION ALL
      |SELECT 'CUST:'||c_custkey, 'in_segment', 'SEG:'||c_mktsegment, NULL, NULL
      |FROM customer
      |UNION ALL
      |SELECT 'SUPP:'||s_suppkey, 'from_nation', 'NATION:'||s_nationkey, NULL, NULL
      |FROM supplier
      |UNION ALL
      |SELECT subject_id, 'rated', object_id,
      |       CAST(count(*) AS BIGINT),
      |       CAST(floor(median(q) * 1000 + 0.5) AS BIGINT)
      |FROM (
      |  SELECT 'SUPP:'||l.l_suppkey subject_id, pc.pid object_id,
      |         l.l_linenumber i, sum(l.l_quantity) q
      |  FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
      |  WHERE l.l_linenumber BETWEEN 1 AND 6
      |  GROUP BY 1, 2, 3)
      |GROUP BY 1, 2, 3""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "q_order_nodes" ->
      """SELECT 'ORDER:'||o_orderkey id, 'order' AS "label",
        |       'Order '||o_orderkey AS "name", o_orderpriority priority,
        |       CAST(floor(o_totalprice * 1000 + 0.5) AS BIGINT) totalprice_milli,
        |       CAST(floor(o_totalprice) AS BIGINT) totalprice_floor,
        |       CAST(year(o_orderdate) AS INT) "year",
        |       CAST(o_orderpriority = '1-URGENT' AS VARCHAR) is_urgent
        |FROM orders""".stripMargin,
    "q_typed_edges" -> typedEdgesSql,
    "q_mentions_trie" -> mentionsTrieSql,
    "q_mentions_ranked" -> mentionsRankedSql,
    "q_nodes_props" -> nodesPropsSql,
    "q_edges_props" -> edgesPropsSql,
    "q_supply_edges" ->
      """WITH pc AS (
        |  SELECT p_partkey,
        |         'PART:' || replace(min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name), 'PARTRAW:', '') AS pid
        |  FROM part)
        |SELECT 'SUPP:' || l.l_suppkey subject_id, 'supplies' relation_label,
        |       pc.pid object_id, count(*) n_lines
        |FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_typed_layers" ->
      """SELECT 'SUPP:' || s_suppkey id, 'supplier' AS "label", s_name "name" FROM supplier
        |UNION ALL
        |SELECT 'REGION:' || r_regionkey, 'region', r_name FROM region
        |UNION ALL
        |SELECT 'NATION:' || n_nationkey, 'in_region', 'REGION:' || n_regionkey FROM nation""".stripMargin,
    "q_pages_text" -> (pageTextSql.replace("AS text", "AS text, 'en' AS lang")),
    "q_extract_text" -> pageTextSql,
    // the WARC round-trip must reproduce the extracted corpus EXCEPT
    // the deliberately-corrupted every-101st record, which the reader's
    // Content-Length verification must drop
    "q_warc_read" ->
      s"""SELECT url, fetched_at, text FROM (
         |${pageTextSql.replace("AS text",
             "AS text, strftime(o.o_orderdate, '%Y-%m-%dT00:00:00Z') AS fetched_at")}
         |) WHERE CAST(substring(url, 16) AS BIGINT) % 101 <> 0""".stripMargin,
    "q_link_dict" ->
      """SELECT p_name AS alias, 'PARTRAW:' || min(p_partkey) AS entity_id,
        |       'product' AS entity_label
        |FROM part GROUP BY p_name
        |UNION ALL
        |SELECT c_name, 'CUST:' || c_custkey, 'customer' FROM customer
        |UNION ALL
        |SELECT n_name, 'NATION:' || n_nationkey, 'nation' FROM nation""".stripMargin,
    "q_mentions" -> mentionsSql,
    "q_cc" ->
      """SELECT 'PARTRAW:' || p_partkey AS member,
        |       min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name) AS component
        |FROM part""".stripMargin,
    "q_triples" -> flagshipTriplesSql,
    // identical to q_triples BY SHARED DEFINITION: streamed
    // union-distinct must equal the batch flagship triple set
    "q_stream_triples" -> flagshipTriplesSql,
    // identical to q_triples BY SHARED DEFINITION: the late-alias
    // correction path must converge to the batch flagship triple set
    "q_stream_inc_triples" -> flagshipTriplesSql,
    "q_co_ordered" ->
      """WITH pc AS (
        |  SELECT p_partkey,
        |         'PART:' || replace(min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name), 'PARTRAW:', '') AS pid
        |  FROM part),
        |op AS (
        |  SELECT DISTINCT l.l_orderkey, pc.pid
        |  FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey)
        |SELECT DISTINCT a.pid k1, b.pid k2
        |FROM op a JOIN op b ON a.l_orderkey = b.l_orderkey AND a.pid < b.pid""".stripMargin,
    "q_nodes" ->
      """WITH pc AS (
        |  SELECT p_name, 'PART:' || replace(min('PARTRAW:' || p_partkey), 'PARTRAW:', '') AS pid,
        |         min(p_partkey) AS minkey
        |  FROM part GROUP BY p_name),
        |mentioned_parts AS (
        |  SELECT DISTINCT p.p_name FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
        |mentioned_custs AS (SELECT DISTINCT o_custkey FROM orders)
        |SELECT pc.pid AS id, 'product' AS label, mp.p_name AS name
        |FROM mentioned_parts mp JOIN pc ON pc.p_name = mp.p_name
        |UNION
        |SELECT 'CUST:' || c.c_custkey, 'customer', c.c_name
        |FROM customer c JOIN mentioned_custs m ON m.o_custkey = c.c_custkey
        |UNION
        |SELECT DISTINCT 'NATION:' || n.n_nationkey, 'nation', n.n_name
        |FROM nation n JOIN customer c ON c.c_nationkey = n.n_nationkey
        |JOIN mentioned_custs m ON m.o_custkey = c.c_custkey""".stripMargin
  )
}
