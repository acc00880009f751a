package graft.fixtures

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic synthetic web-page corpus + dictionary fixtures
  * (FIXTURES.md §1-2), derived purely from the driver-provided parquet
  * tables so every `SparkEntry.queries` entry stays a function of
  * `(spark, sfDir)` and the DuckDB oracle can rebuild the exact same
  * values relationally.
  *
  * One page per `orders` row:
  *   url     = 'https://ex.org/' || o_orderkey
  *   warc_ts = o_orderdate
  *   text    = "Order K was placed by C from N with priority P on D. Items: I."
  *             where I = ', '-joined part names of the order's lineitems
  *             sorted by (l_linenumber, p_name), or 'none'
  *   html    = <html><head><title>…</title></head><body><p>text</p></body></html>
  *   lang    = 'en'
  *
  * The dictionary mirrors the reference's ID-mapping universe
  * (SURVEY.md §1.4, drug_adapter.py:512-646, disease_adapter.py:701-733):
  * aliases are part names (ambiguous: ~62 names over many partkeys —
  * the priority-fallback + connected-components canonicalization target),
  * customer names and nation names (unambiguous).
  */
object Corpus {

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** The ', '-joined item list per order, sorted by (l_linenumber, p_name).
    * Sorting key includes p_name because l_linenumber is NOT unique per
    * order in the test data; the composite key makes the concat
    * deterministic under any partitioning. */
  private def itemsPerOrder(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem")
    val part = table(spark, sfDir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .groupBy(col("l_orderkey"))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("l_linenumber"), col("p_name")))),
            x => x.getField("p_name")),
          ", ").as("items"))
  }

  /** Body text of each page (the value the extractor must reproduce). */
  def pageText(spark: SparkSession, sfDir: String): DataFrame = {
    val o = table(spark, sfDir, "orders")
    val c = table(spark, sfDir, "customer")
    val n = table(spark, sfDir, "nation")
    val items = itemsPerOrder(spark, sfDir)
    o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .join(items, o("o_orderkey") === items("l_orderkey"), "left")
      .select(
        concat(lit("https://ex.org/"), col("o_orderkey")).as("url"),
        col("o_orderdate").as("warc_ts"),
        concat(
          lit("Order "), col("o_orderkey"),
          lit(" was placed by "), col("c_name"),
          lit(" from "), col("n_name"),
          lit(" with priority "), col("o_orderpriority"),
          lit(" on "), date_format(col("o_orderdate"), "yyyy-MM-dd"),
          lit(". Items: "), coalesce(col("items"), lit("none")),
          lit(".")).as("text"),
        lit("en").as("lang"))
  }

  /** Full Page table (url, warc_ts, html binary, text, lang). The html is
    * built around the text; HtmlText.extract(html) must return `text`
    * byte-identically (unit-tested + audited with xxhash64 in-pipeline). */
  def pages(spark: SparkSession, sfDir: String): DataFrame =
    pageText(spark, sfDir).select(
      col("url"), col("warc_ts"),
      encode(concat(
        lit("<html><head><title>"), col("url"),
        lit("</title></head><body><p>"), col("text"),
        lit("</p></body></html>")), "UTF-8").as("html"),
      col("text"), col("lang"))

  /** Alias dictionary (alias, entity_id, entity_label, priority).
    * Part aliases are many-to-one ambiguous (multiple partkeys share a
    * name); priority = partkey so rank-1 resolution is deterministic. */
  def aliasDict(spark: SparkSession, sfDir: String): DataFrame = {
    val part = table(spark, sfDir, "part")
    val cust = table(spark, sfDir, "customer")
    val nat = table(spark, sfDir, "nation")
    val p = part.select(
      col("p_name").as("alias"),
      concat(lit("PARTRAW:"), col("p_partkey")).as("entity_id"),
      lit("product").as("entity_label"),
      col("p_partkey").cast("int").as("priority"))
    val c = cust.select(
      col("c_name").as("alias"),
      concat(lit("CUST:"), col("c_custkey")).as("entity_id"),
      lit("customer").as("entity_label"),
      lit(0).as("priority"))
    val n = nat.select(
      col("n_name").as("alias"),
      concat(lit("NATION:"), col("n_nationkey")).as("entity_id"),
      lit("nation").as("entity_label"),
      lit(0).as("priority"))
    p.unionByName(c).unionByName(n)
  }

  /** Dictionary with 3/4-token aliases layered onto [[aliasDict]]
    * (VERDICT r1 #1: real alias universes are arbitrary token length —
    * uniprot_adapter.py:885-961, drug_adapter.py:2066-2096). Both new
    * alias families appear verbatim in the page text:
    *   "<c_name> from <n_name>"            (3 tokens)  → CUSTLOC:<custkey>
    *   "with priority <o_orderpriority>"   (3-4 tokens) → PRIO:<...>
    */
  def multiTokenDict(spark: SparkSession, sfDir: String): DataFrame = {
    val c = table(spark, sfDir, "customer")
    val n = table(spark, sfDir, "nation")
    val custloc = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .select(
        concat(col("c_name"), lit(" from "), col("n_name")).as("alias"),
        concat(lit("CUSTLOC:"), col("c_custkey")).as("entity_id"),
        lit("cust_loc").as("entity_label"),
        lit(0).as("priority"))
    val prio = table(spark, sfDir, "orders")
      .select(col("o_orderpriority")).distinct()
      .select(
        concat(lit("with priority "), col("o_orderpriority")).as("alias"),
        concat(lit("PRIO:"), regexp_replace(col("o_orderpriority"), " ", "_"))
          .as("entity_id"),
        lit("priority").as("entity_label"),
        lit(0).as("priority"))
    aliasDict(spark, sfDir).unionByName(custloc).unionByName(prio)
  }

  /** Context-rich review page per lineitem of every 10th order: the
    * TF-IDF disambiguation corpus. Each review names its part (the
    * ambiguous 2-token alias — ~31 parts share each p_name) AND carries
    * the part's brand/type/size context that the re-ranker uses to pick
    * the right one. */
  def reviews(spark: SparkSession, sfDir: String): DataFrame = {
    val li = table(spark, sfDir, "lineitem").filter(pmod(col("l_orderkey"), lit(10)) === 0)
    val part = table(spark, sfDir, "part")
    li.join(broadcast(part), li("l_partkey") === part("p_partkey"))
      .select(
        concat(lit("https://rev.ex.org/"), col("l_orderkey"), lit("-"),
          col("l_linenumber"), lit("-"), col("p_partkey")).as("url"),
        concat(lit("Review of "), col("p_name"), lit(" by "), col("p_brand"),
          lit(" type "), col("p_type"), lit(" size "), col("p_size"),
          lit(" rating good")).as("text"))
      .distinct()
  }

  /** Ambiguous candidate dictionary over review pages: the full p_name
    * (shared by ~31 parts) maps to EVERY partkey bearing it — resolution
    * is the re-ranker's job, not a drop. */
  def reviewDict(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part").select(
      col("p_name").as("alias"),
      concat(lit("PARTRAW:"), col("p_partkey")).as("entity_id"),
      lit("product").as("entity_label"))

  /** Entity context profiles for the TF-IDF re-rank: one document per
    * part (name + brand + type + size), mirroring the reference's
    * per-entity property text (uniprot_adapter.py:696-838). */
  def partProfiles(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part").select(
      concat(lit("PARTRAW:"), col("p_partkey")).as("entity_id"),
      concat(col("p_name"), lit(" "), col("p_brand"), lit(" "), col("p_type"),
        lit(" size "), col("p_size")).as("ptext"))

  /** The canonical products, one row per part name: `minkey` is the
    * lexicographic min of 'PARTRAW:<k>' over the name group (the CC
    * vertex-id ordering), NOT the numeric min, joined back to `part`
    * once for that part's p_brand / p_type / p_size; `sizes` holds the
    * group's distinct sizes and `family` the name-derived family key.
    * Every builder over canonical products is a projection of this one
    * frame. A single-word p_name has no family noun (element_at yields
    * null): the family builders drop those rows, so a malformed name can
    * never inject a null-id TYPE:fam_ node or in_family/variant_of edge
    * into the store (the fixture invariant is two-word names; the guard
    * makes it a structural property instead of a data assumption). */
  private def canonicalParts(spark: SparkSession, sfDir: String): DataFrame = {
    val part = table(spark, sfDir, "part")
    val groups = part.groupBy(col("p_name")).agg(
      regexp_replace(min(concat(lit("PARTRAW:"), col("p_partkey"))), "^PARTRAW:", "")
        .cast("long").as("minkey"),
      array_sort(collect_set(col("p_size").cast("string"))).as("sizes"))
    groups.join(part, groups("minkey") === part("p_partkey")).select(
      col("minkey"), groups("p_name"), col("p_brand"), col("p_type"), col("p_size"),
      col("sizes"), nameFamily(groups("p_name")).as("family"))
  }

  /** Per-label node attribute projections for the typed-node emission
    * (Triples.nodesTyped): canonical product ids (lex-min PARTRAW key of
    * the name group — matching the CC component choice) carry the
    * canonical part's brand/type/size, the group's distinct sizes as a
    * multi-value prop, and the 64-dim embedding row keyed by the
    * canonical partkey; customers carry mktsegment, nations regionkey. */
  def nodeAttrs(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings").select(
      col("vec_id"), col("embedding"))
    val prod = canonicalParts(spark, sfDir)
      .join(emb, col("minkey") === emb("vec_id"), "left")
      .select(
        concat(lit("PART:"), col("minkey")).as("id"),
        map(
          lit("brand"), col("p_brand"),
          lit("type"), col("p_type"),
          lit("size"), col("p_size").cast("string")).as("props2"),
        col("sizes"), col("embedding"))
    val nullSizes = lit(null).cast("array<string>")
    val nullEmb = lit(null).cast("array<float>")
    val cust = table(spark, sfDir, "customer").select(
      concat(lit("CUST:"), col("c_custkey")).as("id"),
      map(lit("mktsegment"), col("c_mktsegment")).as("props2"),
      nullSizes.as("sizes"), nullEmb.as("embedding"))
    val nat = table(spark, sfDir, "nation").select(
      concat(lit("NATION:"), col("n_nationkey")).as("id"),
      map(lit("region"), col("n_regionkey").cast("string")).as("props2"),
      nullSizes.as("sizes"), nullEmb.as("embedding"))
    prod.unionByName(cust).unionByName(nat)
  }

  // -----------------------------------------------------------------
  // The SHARED line-fact projection (round 5, VERDICT r4 Next #2): a
  // dozen edge families all reduce the same enriched lineitem —
  // lineitem ⨝ orders (custkey) ⨝ customer (nationkey, broadcast) ⨝
  // part (type/brand, broadcast) ⨝ canon (broadcast rank-1). Built as
  // ONE frame here; the pipeline computes + persists it ONCE and every
  // `*From(lf)` builder below is a pure group-by over it, so the edges
  // stage pays one fact scan + one orders join instead of ~12
  // (standalone, `graft.schema.Families.Standalone` builds the same
  // frame, so the oracle queries exercise the identical plan shape).
  // -----------------------------------------------------------------

  /** Enriched line-level facts. Columns:
    *   ok, ck, cnat          order / customer / customer-nation keys
    *   pk, sk, ln, rf, sd    raw part, supplier, linenumber, returnflag,
    *                         shipdate
    *   qty, extprice, disc   measures
    *   ptype, brand          part vocabulary attrs
    *   cid                   canonical part id (only when `canonTable`
    *                         is given — families that never touch the
    *                         canonical vocabulary skip the CC plan)
    * The orders/customer/part joins are key-preserving (FK integrity:
    * every l_orderkey/o_custkey/l_partkey resolves), so a family that
    * only needs a subset of the joins computes identical values through
    * this frame. */
  def lineFacts(spark: SparkSession, sfDir: String,
                canonTable: Option[DataFrame]): DataFrame = {
    val o = table(spark, sfDir, "orders").select("o_orderkey", "o_custkey")
    val c = table(spark, sfDir, "customer").select("c_custkey", "c_nationkey")
    val p = table(spark, sfDir, "part")
      .select(col("p_partkey"), col("p_type").as("ptype"),
        col("p_brand").as("brand"))
    val base = table(spark, sfDir, "lineitem")
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk"),
        col("l_suppkey").as("sk"), col("l_linenumber").as("ln"),
        col("l_returnflag").as("rf"), col("l_shipdate").as("sd"),
        col("l_quantity").as("qty"), col("l_extendedprice").as("extprice"),
        col("l_discount").as("disc"))
      .join(o, col("ok") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(p), col("pk") === col("p_partkey"))
      .select(col("ok"), col("o_custkey").as("ck"),
        col("c_nationkey").as("cnat"), col("pk"), col("sk"), col("ln"),
        col("rf"), col("sd"), col("qty"), col("extprice"), col("disc"),
        col("ptype"), col("brand"))
    canonTable match {
      case None => base
      case Some(ct) =>
        val canon = graft.canon.Canonicalize.rank1(ct)
        base
          .join(broadcast(canon),
            concat(lit("PARTRAW:"), col("pk")) === col("raw_id"))
          .drop("raw_id")
          .withColumnRenamed("canonical_id", "cid")
    }
  }

  /** Second edge source for the merge layer (reference fuses multi-
    * source edges, ppi_adapter.py:1268-1303): 'ordered' edges derived
    * from the order ledger itself, with per-edge page evidence and a
    * line count only this source carries, over a shared [[lineFacts]]
    * frame. */
  def ledgerFrom(lf: DataFrame): DataFrame = {
    // Bounded witness aggregation (BoundedAggs): lineitem rows are NOT
    // distinct per url here, so `total` is the exact LINE count while
    // `items` is the capped distinct url set — both reducer-bounded.
    val topk = graft.functions.BoundedAggs.topKCount(
      graft.triples.Triples.DefaultEvidenceCap)
    lf.select(
        concat(lit("CUST:"), col("ck")).as("subject_id"),
        lit("ordered").as("relation_label"),
        col("cid").as("object_id"),
        concat(lit("https://ex.org/"), col("ok")).as("url"))
      .groupBy(col("subject_id"), col("relation_label"), col("object_id"))
      .agg(topk(col("url")).as("ev"))
      .select(col("subject_id"), col("relation_label"), col("object_id"),
        concat_ws("|", col("ev.items")).as("evidence"),
        col("ev.total").as("n_lines"))
      .withColumn("sources", lit("ledger"))
  }

  /** Supplier and region typed nodes + their ledger-derived edges —
    * KG layers with no text-mention source (the reference likewise has
    * adapters that are purely relational: SURVEY §2.3 link tables).
    *   supplier  (SUPP:k)   props: name, nation
    *   region    (REGION:k) props: name
    *   supplies  (SUPP -> PART canonical) with line count
    *   in_region (NATION -> REGION)
    */
  def supplierNodes(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "supplier").select(
      concat(lit("SUPP:"), col("s_suppkey")).as("id"),
      lit("supplier").as("label"),
      map(lit("name"), col("s_name"),
        lit("nation"), col("s_nationkey").cast("string")).as("props"))

  def regionNodes(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "region").select(
      concat(lit("REGION:"), col("r_regionkey")).as("id"),
      lit("region").as("label"),
      map(lit("name"), col("r_name")).as("props"))

  /** (SUPP, supplies, PART-canonical) edges with per-edge line counts,
    * canonicalized through the same rank-1 broadcast map, over a shared
    * [[lineFacts]] frame. */
  def supplyFrom(lf: DataFrame): DataFrame =
    lf.groupBy(
        concat(lit("SUPP:"), col("sk")).as("subject_id"),
        lit("supplies").as("relation_label"),
        col("cid").as("object_id"))
      .agg(count(lit(1)).as("n_lines"))

  def inRegionEdges(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "nation").select(
      concat(lit("NATION:"), col("n_nationkey")).as("subject_id"),
      lit("in_region").as("relation_label"),
      concat(lit("REGION:"), col("n_regionkey")).as("object_id"))

  // -----------------------------------------------------------------
  // Schema-breadth layers (VERDICT r2 Missing #1): typed node/edge
  // families with int/float/bool props, exercising the reference's
  // numeric coercions (schema_config.yaml:24-25,117-123,343-344 int/
  // float/bool prop types; drug_adapter.py:2246 round(x,3);
  // uniprot_adapter.py:450-458 comma-grouped int parse) inside the
  // emitted property maps — not just in golden unit tests.
  // -----------------------------------------------------------------

  /** Order nodes (ORDER:k) with typed props: totalprice float
    * (round(_,3)), totalprice_floor int parsed from a comma-grouped
    * source string via StringFns.commaInt (the uniprot length/mass
    * pattern), year int, is_urgent bool. */
  def orderNodes(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.StringFns
    table(spark, sfDir, "orders").select(
      concat(lit("ORDER:"), col("o_orderkey")).as("id"),
      lit("order").as("label"),
      map(
        lit("name"), concat(lit("Order "), col("o_orderkey")),
        lit("priority"), col("o_orderpriority"),
        lit("totalprice"), round(col("o_totalprice"), 3).cast("string"),
        lit("totalprice_floor"),
        StringFns.commaInt(format_number(floor(col("o_totalprice")), 0))
          .cast("string"),
        lit("year"), year(col("o_orderdate")).cast("string"),
        lit("is_urgent"),
        (col("o_orderpriority") === "1-URGENT").cast("string")).as("props"))
  }

  /** Brand nodes (BRAND:name) — distinct p_brand universe. */
  def brandNodes(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "part").select(col("p_brand")).distinct()
      .select(
        concat(lit("BRAND:"), regexp_replace(col("p_brand"), " ", "_")).as("id"),
        lit("brand").as("label"),
        map(lit("name"), col("p_brand")).as("props"))

  /** Market-segment nodes (SEG:name). */
  def segmentNodes(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer").select(col("c_mktsegment")).distinct()
      .select(
        concat(lit("SEG:"), col("c_mktsegment")).as("id"),
        lit("segment").as("label"),
        map(lit("name"), col("c_mktsegment")).as("props"))

  /** Shared per-DOCUMENT fact projection — the documents-side
    * [[lineFacts]] (VERDICT r5 Next #7): ONE corpus scan computes every
    * per-row derivation the document families need — metadata (source,
    * lang, n_chars), the rolling fingerprint, the SimHash signature,
    * and the shingle-code set + MinHash signature — so the pipeline's
    * seven documents consumers (document nodes, written_in,
    * from_source, cites, similar_to, near_dup_of, and the
    * language/source rollups via [[docLangFactsFrom]]) are marginal
    * projections over one persisted frame instead of independent
    * corpus scans. Unpersisted standalone use stays cheap: a consumer
    * selecting only `fp` prunes the signature expressions out of the
    * scan (Catalyst column pruning). */
  def docFacts(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.textops.{DedupOps, TextOps}
    table(spark, sfDir, "documents").select(
        col("doc_id"), col("source"), col("lang"), col("n_chars"),
        TextOps.fingerprint(TextOps.tokens(col("text"))).as("fp"),
        DedupOps.simhashSignature(col("text")).as("simsig"),
        DedupOps.shingleCodesOf(col("text"), 3).as("shc"))
      .withColumn("sig", DedupOps.minhashSigOf(col("shc"), 64))
  }

  /** Document nodes (DOC:k) with int n_chars and bool is_english, over
    * a shared [[docFacts]] frame. */
  def documentNodesFrom(df: DataFrame): DataFrame =
    df.select(
      concat(lit("DOC:"), col("doc_id")).as("id"),
      lit("document").as("label"),
      map(
        lit("name"), concat(lit("doc "), col("doc_id")),
        lit("lang"), col("lang"),
        lit("n_chars"), col("n_chars").cast("string"),
        lit("is_english"), (col("lang") === "en").cast("string")).as("props"))

  /** (CUST, placed, ORDER) edges with an int year prop. */
  def placedEdges(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "orders").select(
      concat(lit("CUST:"), col("o_custkey")).as("subject_id"),
      lit("placed").as("relation_label"),
      concat(lit("ORDER:"), col("o_orderkey")).as("object_id"),
      year(col("o_orderdate")).cast("long").as("year"))

  /** (ORDER, contains, PART-canonical) edges with int quantity and
    * float extendedprice (round(_,3)) props, canonicalized through the
    * same broadcast rank-1 map as every other part edge, over a shared
    * [[lineFacts]] frame. */
  def containsFrom(lf: DataFrame): DataFrame =
    lf.groupBy(
        concat(lit("ORDER:"), col("ok")).as("subject_id"),
        lit("contains").as("relation_label"),
        col("cid").as("object_id"))
      .agg(
        floor(sum(col("qty"))).cast("long").as("quantity"),
        round(sum(col("extprice")), 3).as("extendedprice"),
        // exact-integer twin of the float prop: per-row cents summed as
        // BIGINT — summation-order-independent, hence oracle-portable
        // (float sums are not; the props map keeps the float form)
        sum(floor(col("extprice") * 100 + 0.5).cast("long"))
          .as("extendedprice_cents"))

  /** (PART-canonical, branded_as, BRAND) edges — the canonical part's
    * brand, same canonical-key choice as nodeAttrs (lex-min PARTRAW). */
  def brandedAsEdges(spark: SparkSession, sfDir: String): DataFrame =
    canonicalParts(spark, sfDir).select(
      concat(lit("PART:"), col("minkey")).as("subject_id"),
      lit("branded_as").as("relation_label"),
      concat(lit("BRAND:"), regexp_replace(col("p_brand"), " ", "_")).as("object_id"))

  /** (CUST, in_segment, SEG) edges. */
  def inSegmentEdges(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "customer").select(
      concat(lit("CUST:"), col("c_custkey")).as("subject_id"),
      lit("in_segment").as("relation_label"),
      concat(lit("SEG:"), col("c_mktsegment")).as("object_id"))

  /** (SUPP, from_nation, NATION) edges. */
  def fromNationEdges(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "supplier").select(
      concat(lit("SUPP:"), col("s_suppkey")).as("subject_id"),
      lit("from_nation").as("relation_label"),
      concat(lit("NATION:"), col("s_nationkey")).as("object_id"))

  /** (SUPP, rated, PART-canonical) edges — the DTI-style numeric fusion
    * as a first-class edge family: per (supplier, canonical part) the
    * median of the per-line-number source sums (micro-units) + source
    * count (drug_adapter.py merge_all_dtis shape over the supply KG),
    * over a shared [[lineFacts]] frame. */
  def ratedFrom(lf: DataFrame): DataFrame = {
    import graft.merge.MergeSources
    val perSrc = lf
      .filter(col("ln").between(1, 6))
      .groupBy(
        concat(lit("SUPP:"), col("sk")).as("subject_id"),
        col("cid").as("object_id"), col("ln").as("i"))
      .agg(sum(col("qty")).as("q"))
    // pivot the <=6 per-source sums onto one row, then row-wise median
    val qs = (1 to 6).map(i => max(when(col("i") === i, col("q"))).as(s"q_$i"))
    val qCols = (1 to 6).map(i => col(s"q_$i"))
    perSrc.groupBy("subject_id", "object_id")
      .agg(qs.head, qs.tail: _*)
      .select(
        col("subject_id"), lit("rated").as("relation_label"), col("object_id"),
        floor(MergeSources.rowMedian(qCols) * 1000 + 0.5).cast("long")
          .as("med_qty_milli"),
        MergeSources.rowSourceCount(qCols).cast("long").as("n_srcs"))
  }

  // -----------------------------------------------------------------
  // Breadth block 2 (round 3): events/documents/part vocab families —
  // takes the declared schema to 14 node types (reference parity:
  // schema_config.yaml declares 14) and 17 edge families.
  // -----------------------------------------------------------------

  /** Part-type vocabulary nodes (TYPE:name) — the declared process
    * types UNION the content-derived name families (TYPE:fam_*, the
    * noun of each two-word p_name; block 5's in_family endpoints —
    * the reference's domain vocabulary is likewise derived from entity
    * content, not a stored dimension). Uppercase p_type values can
    * never collide with the lowercase fam_* ids. */
  def ptypeNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val p = table(spark, sfDir, "part")
    val declared = p.select(col("p_type")).distinct()
      .select(
        concat(lit("TYPE:"), regexp_replace(col("p_type"), " ", "_")).as("id"),
        lit("ptype").as("label"),
        map(lit("name"), col("p_type")).as("props"))
    val families = p
      .select(element_at(split(col("p_name"), " "), 2).as("fam")).distinct()
      .filter(col("fam").isNotNull) // single-word names have no family noun
      .select(
        concat(lit("TYPE:fam_"), col("fam")).as("id"),
        lit("ptype").as("label"),
        map(lit("name"), concat(col("fam"), lit(" family"))).as("props"))
    declared.unionByName(families)
  }

  /** Shared (user, event_type)-grained aggregate of the event stream —
    * the events-side analogue of [[lineFacts]]: `events` is the second
    * fact-shaped input (at web scale it dwarfs every dimension), and
    * FOUR families reduce this same grain — [[performedFrom]] and
    * [[prefersFrom]] (edges), [[userNodesFrom]] and
    * [[eventTypeNodesFrom]] (nodes). The pipeline materializes it once
    * and derives the families as marginal rollups, so the event stream
    * is scanned and shuffled ONE time instead of four. Per-row value
    * integerization happens here, before any sum, so every downstream
    * re-aggregation is exact integer math (order-independent). */
  def eventFacts(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .groupBy(col("user_id"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000 + 0.5).cast("long")).as("value_milli"))

  /** User nodes (USER:k) aggregated from the event stream, with int
    * n_events, int micro-unit activity value (per-row integerization
    * BEFORE the sum keeps the prop summation-order-independent) and a
    * derived bool, over a shared [[eventFacts]] frame: integer sums of
    * the (user, event_type) partials — associative, so bit-identical
    * to aggregating the raw stream. */
  def userNodesFrom(ef: DataFrame): DataFrame =
    ef.groupBy(col("user_id"))
      .agg(
        sum(col("n_events")).as("n_events"),
        sum(col("value_milli")).as("value_milli"))
      .select(
        concat(lit("USER:"), col("user_id")).as("id"),
        lit("user").as("label"),
        map(
          lit("name"), concat(lit("user "), col("user_id")),
          lit("n_events"), col("n_events").cast("string"),
          lit("total_value_milli"), col("value_milli").cast("string"),
          lit("is_active"), (col("n_events") >= 3).cast("string")).as("props"))

  /** Event-type vocabulary nodes (EVT:name) over a shared [[eventFacts]]
    * frame. */
  def eventTypeNodesFrom(ef: DataFrame): DataFrame =
    ef.select(col("event_type")).distinct()
      .select(
        concat(lit("EVT:"), col("event_type")).as("id"),
        lit("event_type").as("label"),
        map(lit("name"), col("event_type")).as("props"))

  /** Shared (source, lang)-grained count over the document corpus:
    * [[dominantLangFrom]] (edge), [[languageNodesFrom]] and
    * [[sourceNodesFrom]] (nodes) all reduce this grain — the pipeline
    * materializes it once (same fusion discipline as [[lineFacts]] /
    * [[eventFacts]], one documents aggregation pass instead of three).
    * `df` is the `documents` table or, in the pipeline, its shared
    * [[docFacts]] frame (the vocabulary rollup reuses the persisted
    * per-doc scan). */
  def docLangFactsFrom(df: DataFrame): DataFrame =
    df.groupBy(col("source"), col("lang")).agg(count(lit(1)).as("n"))

  /** Language nodes (LANG:code) with int document counts, over a shared
    * [[docLangFactsFrom]] frame. */
  def languageNodesFrom(dlf: DataFrame): DataFrame =
    dlf.groupBy(col("lang")).agg(sum(col("n")).as("n_docs"))
      .select(
        concat(lit("LANG:"), col("lang")).as("id"),
        lit("language").as("label"),
        map(
          lit("name"), col("lang"),
          lit("n_docs"), col("n_docs").cast("string")).as("props"))

  /** Document-source vocabulary nodes (SRC:name) over a shared
    * [[docLangFactsFrom]] frame. */
  def sourceNodesFrom(dlf: DataFrame): DataFrame =
    dlf.select(col("source")).distinct()
      .select(
        concat(lit("SRC:"), regexp_replace(col("source"), " ", "_")).as("id"),
        lit("source").as("label"),
        map(lit("name"), col("source")).as("props"))

  /** (PART-canonical, of_type, TYPE) edges — the canonical part's type,
    * same canonical-key choice as brandedAsEdges. */
  def ofTypeEdges(spark: SparkSession, sfDir: String): DataFrame =
    canonicalParts(spark, sfDir).select(
      concat(lit("PART:"), col("minkey")).as("subject_id"),
      lit("of_type").as("relation_label"),
      concat(lit("TYPE:"), regexp_replace(col("p_type"), " ", "_")).as("object_id"))

  /** (USER, performed, EVT) edges aggregated per (user, event type):
    * int event count + int micro-unit value sum, over a shared
    * [[eventFacts]] frame (the family IS that grain — a pure
    * projection). */
  def performedFrom(ef: DataFrame): DataFrame =
    ef
      .select(
        concat(lit("USER:"), col("user_id")).as("subject_id"),
        lit("performed").as("relation_label"),
        concat(lit("EVT:"), col("event_type")).as("object_id"),
        col("n_events"), col("value_milli"))

  /** (DOC, written_in, LANG) edges over a shared [[docFacts]] frame. */
  def writtenInFrom(df: DataFrame): DataFrame =
    df.select(
      concat(lit("DOC:"), col("doc_id")).as("subject_id"),
      lit("written_in").as("relation_label"),
      concat(lit("LANG:"), col("lang")).as("object_id"))

  /** (DOC, from_source, SRC) edges over a shared [[docFacts]] frame. */
  def fromSourceFrom(df: DataFrame): DataFrame =
    df.select(
      concat(lit("DOC:"), col("doc_id")).as("subject_id"),
      lit("from_source").as("relation_label"),
      concat(lit("SRC:"), regexp_replace(col("source"), " ", "_")).as("object_id"))

  /** (SUPP, fulfills, ORDER) edges from the line-item ledger, over a
    * shared [[lineFacts]] frame: int line count + int micro-unit
    * quantity sum. */
  def fulfillsFrom(lf: DataFrame): DataFrame =
    lf.groupBy(col("sk"), col("ok"))
      .agg(
        count(lit(1)).as("n_lines"),
        sum(floor(col("qty") * 1000 + 0.5).cast("long")).as("qty_milli"))
      .select(
        concat(lit("SUPP:"), col("sk")).as("subject_id"),
        lit("fulfills").as("relation_label"),
        concat(lit("ORDER:"), col("ok")).as("object_id"),
        col("n_lines"), col("qty_milli"))

  // -----------------------------------------------------------------
  // Breadth block 3 (round 4): eight further edge families toward the
  // reference's ~40 edge types (schema_config.yaml:208-606) — each a
  // distinct operator shape (co-occurrence pair dedup, windowed
  // succession, derived-key self-join, JSON-prop extraction, filtered
  // multi-hop, multi-hop aggregation), all with typed int props and
  // DuckDB oracles.
  // -----------------------------------------------------------------

  /** df cap for the co-occurrence families below: far above any
    * fixture-scale posting (no fixture effect), a hard bound at web
    * scale (one hot item's posting would otherwise emit d²/2 pairs);
    * modeled in the oracles the same way as ngram maxDf. */
  val CoOccurrenceMaxDf = 65536L

  /** (SUPP, shares_part, SUPP) undirected canonical pairs — suppliers
    * supplying >= 1 common canonical part, n_common = the distinct
    * shared-part count (the drug-drug / comorbidity "shared neighbor"
    * analogue, §2.5 pair discipline: numeric-key ordering k1 < k2),
    * over a shared [[lineFacts]] frame. Built on the bounded inverted
    * index (coOccurrencePairs): the per-part supplier posting is capped
    * at [[CoOccurrenceMaxDf]]. */
  def sharesPartFrom(lf: DataFrame): DataFrame = {
    val sp = supplyFrom(lf)
      .select(col("object_id").as("pid"),
        regexp_replace(col("subject_id"), "^SUPP:", "").cast("long").as("sk"))
    graft.dedup.PairDedup.coOccurrencePairs(sp, "pid", "sk", CoOccurrenceMaxDf)
      .select(
        concat(lit("SUPP:"), col("k1")).as("subject_id"),
        lit("shares_part").as("relation_label"),
        concat(lit("SUPP:"), col("k2")).as("object_id"),
        col("n_common"))
  }

  /** (ORDER, co_purchased_with, ORDER) pairs — orders sharing >= 2
    * distinct raw parts (co-purchase, the §2.5 reciprocal-pair shape
    * over the order dimension). Postings per part are bounded by part
    * popularity; the >= 2 threshold keeps the emitted pair set sparse.
    * Over a shared [[lineFacts]] frame; reads no `cid`. */
  def coPurchasedFrom(lf: DataFrame): DataFrame = {
    val op = lf.select(col("pk"), col("ok"))
    graft.dedup.PairDedup.coOccurrencePairs(op, "pk", "ok", CoOccurrenceMaxDf,
        minCommon = 2L)
      .select(
        concat(lit("ORDER:"), col("k1")).as("subject_id"),
        lit("co_purchased_with").as("relation_label"),
        concat(lit("ORDER:"), col("k2")).as("object_id"),
        col("n_common"))
  }

  /** (DOC, cites, DOC) — a content-derived citation graph: document i
    * cites the document whose id is its text fingerprint (the portable
    * rolling hash, TextOps.fingerprint) mod the corpus size; self-
    * citations dropped. The derived-key-join family (J7) over document
    * content rather than a stored key. Over a shared [[docFacts]]
    * frame: the fingerprint is the frame's precomputed `fp` column (one
    * token fold per row,
    * shared with every other docFacts consumer); the corpus size stays
    * a LAZY broadcast scalar (the bundle_with pattern — no eager
    * count() at plan-build time, VERDICT r4 Wrong #4). */
  def citesFrom(df: DataFrame): DataFrame = {
    val facts = df.select(col("doc_id"), col("fp"))
    val nDf = facts.agg(count(lit(1)).as("nn"))
    facts.crossJoin(broadcast(nDf))
      .withColumn("target", pmod(col("fp"), col("nn")))
      .filter(col("target") =!= col("doc_id"))
      .select(
        concat(lit("DOC:"), col("doc_id")).as("subject_id"),
        lit("cites").as("relation_label"),
        concat(lit("DOC:"), col("target")).as("object_id"),
        col("fp"))
  }

  /** (USER, touched, DOC) — user-document interactions recovered from
    * the event stream's JSON props column (`{"k": <doc>}`): the F11
    * JSON family inside an emitted edge, aggregated per (user, doc)
    * with int count + micro-unit value (per-row integerization before
    * the sum), endpoint-checked against the documents table. */
  def touchedEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("doc"),
        col("value"))
      .filter(col("doc").isNotNull)
    val docs = table(spark, sfDir, "documents").select(col("doc_id").as("doc"))
    ev.join(broadcast(docs), Seq("doc"), "left_semi")
      .groupBy(col("user_id"), col("doc"))
      .agg(
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 1000 + 0.5).cast("long")).as("value_milli"))
      .select(
        concat(lit("USER:"), col("user_id")).as("subject_id"),
        lit("touched").as("relation_label"),
        concat(lit("DOC:"), col("doc")).as("object_id"),
        col("n_events"), col("value_milli"))
  }

  /** (CUST, peer_of, CUST) — consecutive customers (by custkey) within
    * each (nation, segment) cohort: a PATH graph per cohort, not a
    * clique — the same bounded-degree co-membership encoding as
    * partSameNameEdges (quadratic cohort cliques never materialize). */
  def peerOfEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("c_nationkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))
    table(spark, sfDir, "customer")
      .select(col("c_nationkey"), col("c_mktsegment"), col("c_custkey"))
      .withColumn("prev", lag(col("c_custkey"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(
        concat(lit("CUST:"), col("prev")).as("subject_id"),
        lit("peer_of").as("relation_label"),
        concat(lit("CUST:"), col("c_custkey")).as("object_id"))
  }

  /** (ORDER, next_order, ORDER) — each customer's order succession
    * chain ordered by (date, orderkey), with the int day gap as a prop:
    * the windowed-succession family (lag + datediff). */
  def nextOrderEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    table(spark, sfDir, "orders")
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("prev_key", lag(col("o_orderkey"), 1).over(w))
      .withColumn("prev_date", lag(col("o_orderdate"), 1).over(w))
      .filter(col("prev_key").isNotNull)
      .select(
        concat(lit("ORDER:"), col("prev_key")).as("subject_id"),
        lit("next_order").as("relation_label"),
        concat(lit("ORDER:"), col("o_orderkey")).as("object_id"),
        datediff(col("o_orderdate"), col("prev_date")).cast("long").as("gap_days"))
  }

  /** (CUST, returned, PART-canonical) — the filtered multi-hop family:
    * return-flagged lineitems joined through orders to the customer,
    * canonicalized, with int count + micro-unit quantity props, over a
    * shared [[lineFacts]] frame. */
  def returnedFrom(lf: DataFrame): DataFrame =
    lf.filter(col("rf") === "R")
      .groupBy(
        concat(lit("CUST:"), col("ck")).as("subject_id"),
        col("cid").as("object_id"))
      .agg(
        count(lit(1)).as("n_returns"),
        sum(floor(col("qty") * 1000 + 0.5).cast("long")).as("qty_milli"))
      .select(col("subject_id"), lit("returned").as("relation_label"),
        col("object_id"), col("n_returns"), col("qty_milli"))

  /** (SUPP, ships_to, NATION) — the multi-hop aggregation family:
    * supplier to the customer's nation through lineitem -> orders ->
    * customer, n_orders = distinct orders shipped. Over a shared
    * [[lineFacts]] frame; reads no `cid`. */
  def shipsToFrom(lf: DataFrame): DataFrame =
    lf.groupBy(col("sk"), col("cnat"))
      .agg(countDistinct(col("ok")).as("n_orders"))
      .select(
        concat(lit("SUPP:"), col("sk")).as("subject_id"),
        lit("ships_to").as("relation_label"),
        concat(lit("NATION:"), col("cnat")).as("object_id"),
        col("n_orders"))

  // -----------------------------------------------------------------
  // Breadth block 4 (round 4, second half): five further families —
  // SimHash near-dup as a first-class edge family, Markov event
  // transitions, a 2-hop dimension rollup, top-1-per-group as an edge,
  // and exact embedding-ANN top-1 between canonical product nodes.
  // -----------------------------------------------------------------

  /** (DOC, similar_to, DOC) — SimHash hamming <= 3 near-dup pairs over
    * the raw documents (the second dedup algorithm emitted as typed KG
    * edges, alongside MinHash's near_dup_of), over a shared
    * [[docFacts]] frame (the SimHash signature is the frame's
    * precomputed `simsig` column). */
  def similarToFrom(df: DataFrame): DataFrame =
    graft.textops.DedupOps.simhashNearDupPairsFromSigs(
        df.select(col("doc_id"), col("simsig").as("sig")))
      .select(
        concat(lit("DOC:"), col("id1")).as("subject_id"),
        lit("similar_to").as("relation_label"),
        concat(lit("DOC:"), col("id2")).as("object_id"),
        col("hamming"))

  /** (DOC, near_dup_of, DOC) — MinHash-LSH candidates verified by exact
    * shingle Jaccard, over a shared [[docFacts]] frame (its precomputed
    * `shc`/`sig` columns). */
  def nearDupFrom(df: DataFrame): DataFrame =
    graft.textops.DedupOps.minhashNearDupPairsFromSigs(df)
      .select(
        concat(lit("DOC:"), col("id1")).as("subject_id"),
        lit("near_dup_of").as("relation_label"),
        concat(lit("DOC:"), col("id2")).as("object_id"),
        col("common"), col("size1"), col("size2"))

  /** (EVT, followed_by, EVT) — the event-type transition graph: per
    * user, consecutive events by (ts, event_id); transitions aggregated
    * with int counts (a Markov-chain edge family over the stream). */
  def followedByEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    table(spark, sfDir, "events")
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev"), col("event_type"))
      .agg(count(lit(1)).as("n_times"))
      .select(
        concat(lit("EVT:"), col("prev")).as("subject_id"),
        lit("followed_by").as("relation_label"),
        concat(lit("EVT:"), col("event_type")).as("object_id"),
        col("n_times"))
  }

  /** (CUST, located_in_region, REGION) — a 2-hop dimension rollup
    * (customer -> nation -> region) via broadcast joins. */
  def locatedInRegionEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val n = table(spark, sfDir, "nation").select("n_nationkey", "n_regionkey")
    table(spark, sfDir, "customer").select("c_custkey", "c_nationkey")
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .select(
        concat(lit("CUST:"), col("c_custkey")).as("subject_id"),
        lit("located_in_region").as("relation_label"),
        concat(lit("REGION:"), col("n_regionkey")).as("object_id"))
  }

  /** (PART-canonical, best_supplied_by, SUPP) — the A1 top-1-per-group
    * pattern as an edge family: per canonical part, the supplier with
    * the highest total quantity (micro-units; ties -> min suppkey),
    * over a shared [[lineFacts]] frame. */
  def bestSupplierFrom(lf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = lf
      .groupBy(col("cid").as("pid"), col("sk"))
      .agg(sum(floor(col("qty") * 1000 + 0.5).cast("long")).as("qty_milli"))
    val w = Window.partitionBy(col("pid"))
      .orderBy(col("qty_milli").desc, col("sk"))
    agg.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(
        col("pid").as("subject_id"),
        lit("best_supplied_by").as("relation_label"),
        concat(lit("SUPP:"), col("sk")).as("object_id"),
        col("qty_milli"))
  }

  /** (PART-canonical, closest_to, PART-canonical) — each canonical
    * product's exact cosine nearest neighbor among the canonical-part
    * embeddings (ANN as a first-class KG edge family; the exact
    * baseline is fine here because the vector set is one-per-node —
    * the LSH/IVF scale paths exist alongside in `sim/`). */
  def closestPartEdges(spark: SparkSession, sfDir: String): DataFrame = {
    val corpus = table(spark, sfDir, "embeddings")
      .join(canonicalParts(spark, sfDir), col("vec_id") === col("minkey"))
      .select(col("vec_id").as("id"), col("embedding").as("emb"))
    graft.sim.Knn.bruteForceTopK(corpus, corpus, k = 1)
      .select(
        concat(lit("PART:"), col("vec_id")).as("subject_id"),
        lit("closest_to").as("relation_label"),
        concat(lit("PART:"), col("neighbor_id")).as("object_id"))
  }

  // -----------------------------------------------------------------
  // Breadth block 5 (round 4, final): ten further families — the
  // declared schema reaches 40 edge types, past the reference's edge
  // vocabulary (schema_config.yaml:206-606 declares 39 ACTIVE
  // association types). Each family re-expresses one reference
  // association CLASS as a distinct operator shape: content-derived
  // vocabulary membership (protein-domain), orthology groups
  // (gene-gene orthology), association scoring (disease comorbidity),
  // directional regulation (gene regulatory), per-subject frequency
  // (drug-side effect frequency), cross-domain multi-hop with temporal
  // span (organism-disease), explicit-order middle-row pick (A5 as an
  // edge), fact-to-vocabulary rollup (protein-pathway membership),
  // mode-per-group (dominant association), and a bounded evidence-set
  // prop (interaction evidence codes).
  // -----------------------------------------------------------------

  /** The name-derived family key: the noun of the two-word p_name
    * ("red bolt" -> "bolt") — the content-derived vocabulary the
    * in_family / variant_of families hang off (the reference derives
    * protein-domain membership from sequence content the same way). */
  private def nameFamily(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(split(c, " "), 2)

  /** (PART-canonical, in_family, TYPE:fam_*) — content-derived
    * vocabulary membership: each canonical product belongs to the
    * family named by its name's noun (protein -> protein-domain
    * membership, schema_config.yaml:238-247; the family vocabulary
    * nodes ride ptypeNodes). */
  def inFamilyEdges(spark: SparkSession, sfDir: String): DataFrame =
    canonicalParts(spark, sfDir).filter(col("family").isNotNull).select(
      concat(lit("PART:"), col("minkey")).as("subject_id"),
      lit("in_family").as("relation_label"),
      concat(lit("TYPE:fam_"), col("family")).as("object_id"))

  /** (PART, variant_of, PART) — the orthology-group family
    * (gene-to-gene orthology, schema_config.yaml:395-406): canonical
    * products sharing a name family chained as a PATH per family
    * (consecutive by canonical key — no quadratic cliques), with the
    * group key as a string prop. */
  def variantOfEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("family")).orderBy(col("minkey"))
    canonicalParts(spark, sfDir).filter(col("family").isNotNull)
      .withColumn("prev", lag(col("minkey"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(
        concat(lit("PART:"), col("prev")).as("subject_id"),
        lit("variant_of").as("relation_label"),
        concat(lit("PART:"), col("minkey")).as("object_id"),
        col("family"))
  }

  /** (PART, bundle_with, PART) — the association-SCORE family (disease
    * comorbidity, schema_config.yaml:449-456): canonical-part pairs
    * co-occurring in >= 2 orders, scored by lift vs independence in
    * integer milli-units. The pair universe is vocabulary-bounded
    * (canonical parts), so the bounded inverted index (postings per
    * order, <= 7 lineitems each) can never go hot; dfs and the order
    * total come from the same distinct (order, part) universe the
    * pairs do. floor(((n*1000)*N)/(df_a*df_b)) divides integer-exact
    * doubles (all products < 2^53) — IEEE-identical in the oracle.
    * Over a shared [[lineFacts]] frame. */
  def bundleWithFrom(lf: DataFrame): DataFrame = {
    val op = lf
      .select(col("ok"),
        regexp_replace(col("cid"), "^PART:", "").cast("long").as("pid"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // Lazy broadcast scalars (no extra driver-side action): the order
      // total and per-part dfs ride the same persisted universe the
      // pairs are built from and join back as broadcasts.
      val nOrdersDf = op.agg(countDistinct(col("ok")).as("nn"))
      val dfs = op.groupBy(col("pid")).agg(count(lit(1)).as("df"))
      graft.dedup.PairDedup
        .coOccurrencePairs(op, "ok", "pid", CoOccurrenceMaxDf, preDistinct = true,
          minCommon = 2L)
        .join(broadcast(dfs.select(col("pid").as("k1"), col("df").as("df1"))), Seq("k1"))
        .join(broadcast(dfs.select(col("pid").as("k2"), col("df").as("df2"))), Seq("k2"))
        .crossJoin(broadcast(nOrdersDf))
        .select(
          concat(lit("PART:"), col("k1")).as("subject_id"),
          lit("bundle_with").as("relation_label"),
          concat(lit("PART:"), col("k2")).as("object_id"),
          col("n_common"),
          floor((col("n_common") * lit(1000L) * col("nn")) /
            (col("df1") * col("df2"))).cast("long").as("lift_milli"))
        .localCheckpoint(true)
    } finally op.unpersist(false)
  }

  /** (EVT, regulates, EVT) — the DIRECTIONAL regulatory family (gene
    * to gene regulatory association with activation/repression,
    * schema_config.yaml:595-606): each event-type transition scored
    * against independence over the transition matrix; mode =
    * 'amplifies' when observed >= expected, 'dampens' otherwise, plus
    * the integer-milli lift. Three aggregation granularities (cell,
    * row marginal, column marginal) joined back — all-integer score.
    * Takes the already-built [[followedByEdges]] frame, so a pipeline
    * that also persists `followed_by` as its own family computes the
    * event-succession window + aggregation ONCE. */
  def regulatesFrom(transitions: DataFrame): DataFrame = {
    val t = transitions
      .select(col("subject_id").as("src"), col("object_id").as("dst"),
        col("n_times").as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val rowM = t.groupBy(col("src")).agg(sum(col("n")).as("r"))
      val colM = t.groupBy(col("dst")).agg(sum(col("n")).as("c"))
      // Lazy broadcast scalar (no driver-side action), as in bundle_with.
      val totalDf = t.agg(sum(col("n")).as("tt"))
      t.join(broadcast(rowM), Seq("src"))
        .join(broadcast(colM), Seq("dst"))
        .crossJoin(broadcast(totalDf))
        .select(
          col("src").as("subject_id"),
          lit("regulates").as("relation_label"),
          col("dst").as("object_id"),
          when((col("n") * col("tt")) >= (col("r") * col("c")), lit("amplifies"))
            .otherwise(lit("dampens")).as("mode"),
          floor((col("n") * lit(1000L) * col("tt")) / (col("r") * col("c")))
            .cast("long").as("lift_milli"))
        .localCheckpoint(true)
    } finally t.unpersist(false)
  }

  /** (USER, prefers, EVT) — the per-subject FREQUENCY family (drug to
    * side effect with frequency, schema_config.yaml:559-570): an event
    * type a user hits >= 2 times making up >= 25% of their stream;
    * share in integer milli (two-level aggregation + ratio). Over a
    * shared [[eventFacts]] frame: the per-type counts are the frame's
    * own `n_events`; only the per-user total is a marginal rollup. */
  def prefersFrom(ef: DataFrame): DataFrame = {
    val perType = ef.select(col("user_id"), col("event_type"),
      col("n_events").as("n"))
    val perUser = perType.groupBy(col("user_id")).agg(sum(col("n")).as("tot"))
    perType.join(perUser, Seq("user_id"))
      .withColumn("share_milli",
        floor((col("n") * lit(1000L)) / col("tot")).cast("long"))
      .filter(col("n") >= 2 && col("share_milli") >= 250)
      .select(
        concat(lit("USER:"), col("user_id")).as("subject_id"),
        lit("prefers").as("relation_label"),
        concat(lit("EVT:"), col("event_type")).as("object_id"),
        col("n").as("n_events"), col("share_milli"))
  }

  /** (CUST, bought_from, SUPP) — the cross-domain multi-hop family
    * with a TEMPORAL span prop (organism taxon to disease,
    * schema_config.yaml:408-416): customer to supplier through
    * lineitem -> orders, n_orders = distinct orders, days_span = the
    * day gap between first and last shipment. Over a shared
    * [[lineFacts]] frame; reads no `cid`. */
  def boughtFromFrom(lf: DataFrame): DataFrame =
    lf.groupBy(col("ck"), col("sk"))
      .agg(
        countDistinct(col("ok")).as("n_orders"),
        datediff(max(col("sd")), min(col("sd")))
          .cast("long").as("days_span"))
      .select(
        concat(lit("CUST:"), col("ck")).as("subject_id"),
        lit("bought_from").as("relation_label"),
        concat(lit("SUPP:"), col("sk")).as("object_id"),
        col("n_orders"), col("days_span"))

  /** (CUST, representative_order, ORDER) — the A5 middle-row pick as a
    * persisted family: each customer's MEDIAN order under the explicit
    * (totalprice, orderkey) order (the reference's deterministic
    * middle-pick, SURVEY §7.3 hard-part 1), price in integer milli. */
  def representativeOrderEdges(spark: SparkSession, sfDir: String): DataFrame =
    graft.functions.Aggs.middleRow(
        table(spark, sfDir, "orders")
          .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice")),
        keys = Seq("o_custkey"),
        order = Seq(col("o_totalprice"), col("o_orderkey")),
        valueCol = "o_orderkey", outCol = "mid")
      .select(
        concat(lit("CUST:"), col("o_custkey")).as("subject_id"),
        lit("representative_order").as("relation_label"),
        concat(lit("ORDER:"), col("mid")).as("object_id"),
        floor(col("o_totalprice") * 1000 + 0.5).cast("long").as("totalprice_milli"))

  /** (ORDER, charged_with, TYPE) — the fact-to-vocabulary membership
    * rollup (protein to pathway association, schema_config.yaml:
    * 505-515): an order's lineitems grouped by the part-type
    * vocabulary with int count + per-row-integerized revenue. Over a
    * shared [[lineFacts]] frame; reads no `cid`. */
  def chargedWithFrom(lf: DataFrame): DataFrame =
    lf.select(col("ok"), col("ptype"),
        floor(col("extprice") * (lit(1.0) - col("disc")) * 1000 + 0.5)
          .cast("long").as("rev_milli"))
      .groupBy(col("ok"), col("ptype"))
      .agg(count(lit(1)).as("n_items"), sum(col("rev_milli")).as("revenue_milli"))
      .select(
        concat(lit("ORDER:"), col("ok")).as("subject_id"),
        lit("charged_with").as("relation_label"),
        concat(lit("TYPE:"), regexp_replace(col("ptype"), " ", "_")).as("object_id"),
        col("n_items"), col("revenue_milli"))

  /** (SRC, dominant_lang, LANG) — the mode-per-group family: each
    * document source's most common language (ties -> lexicographic
    * min), with the doc count and integer-milli share of the source's
    * corpus (argmax-of-count + ratio-to-total in one pass chain), over
    * a shared [[docLangFactsFrom]] frame. */
  def dominantLangFrom(dlf: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perLang = dlf
    val w = Window.partitionBy(col("source"))
    perLang
      .withColumn("tot", sum(col("n")).over(w))
      .withColumn("rn", row_number().over(
        w.orderBy(col("n").desc, col("lang"))))
      .filter(col("rn") === 1)
      .select(
        concat(lit("SRC:"), regexp_replace(col("source"), " ", "_")).as("subject_id"),
        lit("dominant_lang").as("relation_label"),
        concat(lit("LANG:"), col("lang")).as("object_id"),
        col("n").as("n_docs"),
        floor((col("n") * lit(1000L)) / col("tot")).cast("long").as("share_milli"))
  }

  /** Cap for the bounded brand-evidence set on `handles` edges —
    * small enough that fixture groups EXCEED it (the cap provably
    * engages in data), modeled in the oracle like every other cap. */
  val HandlesBrandCap = 8

  /** (SUPP, handles, TYPE) — a rollup carrying a BOUNDED evidence-set
    * prop (the reference's evidence-code lists on associations,
    * schema_config.yaml:249-258): distinct part count + the first-K
    * distinct brands (bounded top-K aggregator, '|'-joined, sorted) a
    * supplier ships per part-type. Over a shared [[lineFacts]] frame;
    * reads no `cid`. */
  def handlesFrom(lf: DataFrame): DataFrame = {
    val capAgg = graft.functions.BoundedAggs.pipeSetUnionCapped(HandlesBrandCap)
    lf.groupBy(col("sk"), col("ptype"))
      .agg(
        countDistinct(col("pk")).as("n_parts"),
        capAgg(col("brand")).as("brands"))
      .select(
        concat(lit("SUPP:"), col("sk")).as("subject_id"),
        lit("handles").as("relation_label"),
        concat(lit("TYPE:"), regexp_replace(col("ptype"), " ", "_")).as("object_id"),
        col("n_parts"), col("brands"))
  }

  /** Same-name chain edges over parts: consecutive partkeys within each
    * p_name group, i.e. a path graph per name (NOT a clique) — the
    * connected-components stage must actually propagate labels along
    * paths of length ~|group| to resolve the canonical id. */
  def partSameNameEdges(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val part = table(spark, sfDir, "part")
    val w = Window.partitionBy(col("p_name")).orderBy(col("p_partkey"))
    part
      .select(col("p_name"), col("p_partkey"))
      .withColumn("prev", lag(col("p_partkey"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(
        concat(lit("PARTRAW:"), col("prev")).as("src"),
        concat(lit("PARTRAW:"), col("p_partkey")).as("dst"))
  }

  /** The COMPLETE relational entity-node universes for the three
    * mention-linked labels — all canonical products, all customers, all
    * nations — in the same (id, label, props{name}) shape as
    * Triples.nodes. The reference emits nodes from the source database
    * (every uniprot protein), not only entities with text evidence
    * (uniprot_adapter.py:696-838); writing these through the store
    * guarantees every censused edge family's endpoints exist, so
    * skip-bad-relationships never silently thins a declared family.
    * Mention-derived nodes are a value-identical subset (a component's
    * aliases all equal its p_name). */
  def relationalEntityNodes(spark: SparkSession, sfDir: String): DataFrame = {
    val prod = canonicalParts(spark, sfDir).select(
      concat(lit("PART:"), col("minkey")).as("id"),
      lit("product").as("label"),
      map(lit("name"), col("p_name")).as("props"))
    val cust = table(spark, sfDir, "customer").select(
      concat(lit("CUST:"), col("c_custkey")).as("id"),
      lit("customer").as("label"),
      map(lit("name"), col("c_name")).as("props"))
    val nat = table(spark, sfDir, "nation").select(
      concat(lit("NATION:"), col("n_nationkey")).as("id"),
      lit("nation").as("label"),
      map(lit("name"), col("n_name")).as("props"))
    prod.unionByName(cust).unionByName(nat)
  }

  /** Canonicalization table (raw_id, canonical_id, priority): part raw ids
    * map to the canonical (min-partkey-of-name) PART: id — produced by
    * connected components over the same-name chain graph — plus identity
    * rows for customers and nations, plus deliberate priority-2 decoys to
    * exercise the rank-1 fallback (reference: disease_adapter.py:2282-2319). */
  def canonicalIds(spark: SparkSession, sfDir: String): DataFrame =
    canonicalIdsFrom(spark, sfDir, partSameNameEdges(spark, sfDir))

  /** [[canonicalIds]] over a CALLER-SUPPLIED alias-edge set (same
    * vertex universe): the `canonOf` hook for the incremental-canon
    * stream, where same-name edges accumulate across micro-batches. */
  def canonicalIdsFrom(spark: SparkSession, sfDir: String,
                       aliasEdges: DataFrame): DataFrame = {
    val verts = table(spark, sfDir, "part")
      .select(concat(lit("PARTRAW:"), col("p_partkey")).as("v"))
    val cc = graft.cc.ConnectedComponents.run(spark, aliasEdges, Some(verts))
    val partMap = cc.select(
      col("member").as("raw_id"),
      concat(lit("PART:"), regexp_replace(col("component"), "^PARTRAW:", ""))
        .as("canonical_id"),
      lit(1).as("priority"))
    val decoys = cc.select(
      col("member").as("raw_id"),
      concat(lit("PARTX:"), regexp_replace(col("member"), "^PARTRAW:", ""))
        .as("canonical_id"),
      lit(2).as("priority"))
    val cust = table(spark, sfDir, "customer").select(
      concat(lit("CUST:"), col("c_custkey")).as("raw_id"),
      concat(lit("CUST:"), col("c_custkey")).as("canonical_id"),
      lit(1).as("priority"))
    val nat = table(spark, sfDir, "nation").select(
      concat(lit("NATION:"), col("n_nationkey")).as("raw_id"),
      concat(lit("NATION:"), col("n_nationkey")).as("canonical_id"),
      lit(1).as("priority"))
    partMap.unionByName(decoys).unionByName(cust).unionByName(nat)
  }
}
