package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.queries.CoreQueries.tune
import graft.schema.Families

/** Breadth blocks 3 + 4 + 5 (round 4): twenty-three further KG edge
  * families taking the declared schema to 40 edge types, past the
  * reference's 39 ACTIVE association types
  * (schema_config.yaml:206-606 uncommented edge declarations — e.g.
  * drug_interacts_with_drug, disease_comorbid_with, side-effect,
  * orthology, regulatory and hierarchical tables), each re-expressed
  * over the driver tables as a DISTINCT operator shape and each fully
  * DuckDB-oracle-checked:
  *   shares_part        bounded co-occurrence pairs (supplier–supplier)
  *   co_purchased_with  thresholded co-occurrence (order–order)
  *   cites              content-derived-key self join (doc–doc)
  *   touched            JSON-prop extraction + agg (user–doc)
  *   peer_of            cohort path graph via lag window (cust–cust)
  *   next_order         windowed succession + date gap (order–order)
  *   returned           filtered multi-hop + canonicalize (cust–part)
  *   ships_to           multi-hop countDistinct agg (supp–nation)
  *   similar_to         SimHash hamming pairs as edges (doc–doc)
  *   followed_by        Markov event transitions via lag (evt–evt)
  *   located_in_region  2-hop dimension rollup (cust–region)
  *   best_supplied_by   top-1-per-group as an edge (part–supp)
  *   closest_part       exact cosine NN between node embeddings
  *   in_family          content-derived vocabulary membership
  *   variant_of         orthology-group path chains (derived key)
  *   bundle_with        association-score pairs (lift vs independence)
  *   regulates          directional enrichment over transitions
  *   prefers            per-subject frequency with integer share
  *   bought_from        cross-domain multi-hop + temporal span
  *   repr_order         A5 middle-row pick as an edge
  *   charged_with       fact-to-vocabulary rollup
  *   dominant_lang      mode-per-group (argmax of count + share)
  *   handles            bounded evidence-set prop (capped top-K)
  */
object BreadthQueries {

  /** The per-family queries: query name (a frozen oracle key) -> the
    * registry family it returns, built standalone. */
  private val familyQueries: Seq[(String, String)] = Seq(
    "q_shares_part" -> "shares_part",
    "q_co_purchased" -> "co_purchased_with",
    "q_cites" -> "cites",
    "q_touched" -> "touched",
    "q_peer_of" -> "peer_of",
    "q_next_order" -> "next_order",
    "q_returned" -> "returned",
    "q_ships_to" -> "ships_to",
    // Breadth block 4.
    "q_similar_to" -> "similar_to",
    "q_followed_by" -> "followed_by",
    "q_located_region" -> "located_in_region",
    "q_best_supplier" -> "best_supplied_by",
    "q_closest_part" -> "closest_to",
    // Breadth block 5 — the declared schema reaches the reference's
    // full 40-edge-type vocabulary.
    "q_in_family" -> "in_family",
    "q_variant_of" -> "variant_of",
    "q_bundle_with" -> "bundle_with",
    "q_regulates" -> "regulates",
    "q_prefers" -> "prefers",
    "q_bought_from" -> "bought_from",
    "q_repr_order" -> "representative_order",
    "q_charged_with" -> "charged_with",
    "q_dominant_lang" -> "dominant_lang",
    "q_handles" -> "handles")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    familyQueries.map { case (q, label) =>
      q -> ((s: SparkSession, dir: String) => {
        tune(s)
        Families.Standalone(s, dir).edges(label)
      })
    }.toMap ++ Map[String, (SparkSession, String) => DataFrame](
    // Entity salience = exact fixed-point integer PageRank over the
    // citation graph (graph.PageRank — bit-identical at any
    // parallelism; the oracle replays all five rounds as generated
    // unrolled CTEs with the same integer-div transfer rule).
    "q_salience" -> ((s, dir) => {
      tune(s)
      graft.graph.PageRank.salience(
        Families.Standalone(s, dir).edges("cites")
          .select(col("subject_id").as("src"), col("object_id").as("dst")),
        iters = SalienceIters)
    }),
    // Graph-traversal semantics over an emitted edge family: 2-paths
    // (a)-[next_order]->(b)-[next_order]->(c) with the accumulated day
    // gap — the k-hop join the forward+reverse bucketed adjacency
    // (BucketedGraph.twoHop) executes Exchange-free at store scale;
    // here the same semantics as a plain oracle-checked self-join.
    "q_two_hop" -> ((s, dir) => {
      tune(s)
      val e = Families.Standalone(s, dir).edges("next_order")
      val a = e.select(col("subject_id").as("a"), col("object_id").as("b"),
        col("gap_days").as("g1"))
      val b = e.select(col("subject_id").as("b2"), col("object_id").as("c"),
        col("gap_days").as("g2"))
      a.join(b, col("b") === col("b2"))
        .select(col("a"), col("b"), col("c"),
          (col("g1") + col("g2")).as("total_gap_days"))
    })
  )

  /** Canonical-part CTE shared by the part-canonicalized oracles. */
  private val pcSql =
    """pc AS (
      |  SELECT p_partkey,
      |         'PART:' || replace(min('PARTRAW:' || p_partkey) OVER (PARTITION BY p_name), 'PARTRAW:', '') AS pid
      |  FROM part)""".stripMargin

  /** DuckDB mirror of TextOps.fingerprint over string_split tokens
    * (same integer fold as the q_doc_fingerprint oracle). */
  private[queries] val fpSql =
    """list_reduce([0] || list_transform(string_split(text, ' '),
      |    t -> (ord(t[1])*7 + length(t)) % 1048576),
      |    (a,b) -> (a*31+b) % 1048576)""".stripMargin

  /** Rounds of integer PageRank in q_salience — shared by the query
    * and its generated oracle. */
  private val SalienceIters = 5

  /** DuckDB mirror of graph.PageRank.salience over the citation graph:
    * the five rounds are GENERATED as unrolled CTEs (the hashParams
    * pattern — the oracle derives from the same constants as the
    * engine), each applying the identical integer transfer rule
    * (score·85) // (100·outdeg) with base 150000; `//` (DuckDB) and
    * `div` (Spark) agree on positive BIGINTs, and the per-node sum is
    * exact integers so no float-order caveat exists. s.score stays
    * CAST to BIGINT each round because DuckDB SUM(BIGINT) is HUGEINT. */
  private val salienceSql: String = {
    val sb = new StringBuilder
    sb ++= s"""WITH f AS (
       |  SELECT doc_id, $fpSql fp,
       |         (SELECT count(*) FROM documents) n
       |  FROM documents),
       |e AS (
       |  SELECT 'DOC:'||doc_id src, 'DOC:'||(fp % n) dst FROM f
       |  WHERE fp % n <> doc_id),
       |nodes AS (
       |  SELECT DISTINCT id FROM (
       |    SELECT src id FROM e UNION ALL SELECT dst FROM e)),
       |od AS (SELECT src, count(*) deg FROM e GROUP BY src),
       |s0 AS (SELECT id, CAST(1000000 AS BIGINT) score FROM nodes)""".stripMargin
    for (i <- 1 to SalienceIters) {
      sb ++= s""",
       |s$i AS (
       |  SELECT n.id,
       |         CAST(150000 + COALESCE(c.m, 0) AS BIGINT) score
       |  FROM nodes n LEFT JOIN (
       |    SELECT e.dst id, SUM((s.score * 85) // (100 * od.deg)) m
       |    FROM e JOIN s${i - 1} s ON s.id = e.src JOIN od ON od.src = e.src
       |    GROUP BY e.dst) c ON c.id = n.id)""".stripMargin
    }
    sb ++= s"\nSELECT id node_id, score salience FROM s$SalienceIters"
    sb.toString
  }

  val oracleSql: Map[String, String] = Map(
    "q_salience" -> salienceSql,
    // Both co-occurrence oracles model the engine's bounded-posting df
    // cap (CoOccurrenceMaxDf = 65536): items hotter than the cap leave
    // the pair universe — same modeling as the ngram maxDf oracle.
    "q_shares_part" ->
      s"""WITH $pcSql,
         |sp AS (
         |  SELECT DISTINCT l.l_suppkey sk, pc.pid
         |  FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey),
         |spf AS (
         |  SELECT sk, pid FROM (
         |    SELECT sk, pid, count(*) OVER (PARTITION BY pid) df FROM sp)
         |  WHERE df <= 65536)
         |SELECT 'SUPP:'||a.sk subject_id, 'shares_part' relation_label,
         |       'SUPP:'||b.sk object_id, CAST(count(*) AS BIGINT) n_common
         |FROM spf a JOIN spf b ON a.pid = b.pid AND a.sk < b.sk
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_co_purchased" ->
      """WITH op AS (SELECT DISTINCT l_orderkey ok, l_partkey pk FROM lineitem),
        |opf AS (
        |  SELECT ok, pk FROM (
        |    SELECT ok, pk, count(*) OVER (PARTITION BY pk) df FROM op)
        |  WHERE df <= 65536)
        |SELECT 'ORDER:'||a.ok subject_id, 'co_purchased_with' relation_label,
        |       'ORDER:'||b.ok object_id, CAST(count(*) AS BIGINT) n_common
        |FROM opf a JOIN opf b ON a.pk = b.pk AND a.ok < b.ok
        |GROUP BY 1, 2, 3 HAVING count(*) >= 2""".stripMargin,
    "q_cites" ->
      s"""WITH f AS (
         |  SELECT doc_id, $fpSql fp,
         |         (SELECT count(*) FROM documents) n
         |  FROM documents)
         |SELECT 'DOC:'||doc_id subject_id, 'cites' relation_label,
         |       'DOC:'||(fp % n) object_id, fp
         |FROM f WHERE fp % n <> doc_id""".stripMargin,
    "q_touched" ->
      """SELECT 'USER:'||e.user_id subject_id, 'touched' relation_label,
        |       'DOC:'||e.k object_id,
        |       CAST(count(*) AS BIGINT) n_events,
        |       CAST(sum(CAST(floor(e."value"*1000+0.5) AS BIGINT)) AS BIGINT) value_milli
        |FROM (SELECT user_id,
        |             CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) k,
        |             "value"
        |      FROM events) e
        |JOIN documents d ON d.doc_id = e.k
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_peer_of" ->
      """SELECT 'CUST:'||prev subject_id, 'peer_of' relation_label,
        |       'CUST:'||c_custkey object_id
        |FROM (SELECT c_custkey,
        |             lag(c_custkey) OVER (PARTITION BY c_nationkey, c_mktsegment
        |                                  ORDER BY c_custkey) prev
        |      FROM customer)
        |WHERE prev IS NOT NULL""".stripMargin,
    "q_next_order" ->
      """SELECT 'ORDER:'||pk subject_id, 'next_order' relation_label,
        |       'ORDER:'||o_orderkey object_id,
        |       CAST(datediff('day', CAST(pd AS DATE), CAST(o_orderdate AS DATE)) AS BIGINT) gap_days
        |FROM (SELECT o_orderkey, o_orderdate,
        |             lag(o_orderkey) OVER w pk,
        |             lag(o_orderdate) OVER w pd
        |      FROM orders
        |      WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey))
        |WHERE pk IS NOT NULL""".stripMargin,
    "q_returned" ->
      s"""WITH $pcSql
         |SELECT 'CUST:'||o.o_custkey subject_id, 'returned' relation_label,
         |       pc.pid object_id,
         |       CAST(count(*) AS BIGINT) n_returns,
         |       CAST(sum(CAST(floor(l.l_quantity*1000+0.5) AS BIGINT)) AS BIGINT) qty_milli
         |FROM lineitem l
         |JOIN orders o ON o.o_orderkey = l.l_orderkey
         |JOIN pc ON pc.p_partkey = l.l_partkey
         |WHERE l.l_returnflag = 'R'
         |GROUP BY 1, 2, 3""".stripMargin,
    "q_ships_to" ->
      """SELECT 'SUPP:'||l.l_suppkey subject_id, 'ships_to' relation_label,
        |       'NATION:'||c.c_nationkey object_id,
        |       CAST(count(DISTINCT l.l_orderkey) AS BIGINT) n_orders
        |FROM lineitem l
        |JOIN orders o ON o.o_orderkey = l.l_orderkey
        |JOIN customer c ON c.c_custkey = o.o_custkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_similar_to" ->
      s"""SELECT 'DOC:'||id1 subject_id, 'similar_to' relation_label,
         |       'DOC:'||id2 object_id, hamming
         |FROM (${TextQueries.simhashSqlOver("SELECT doc_id, text FROM documents")})""".stripMargin,
    "q_followed_by" ->
      """SELECT 'EVT:'||prev subject_id, 'followed_by' relation_label,
        |       'EVT:'||event_type object_id, CAST(count(*) AS BIGINT) n_times
        |FROM (SELECT event_type,
        |             lag(event_type) OVER (PARTITION BY user_id
        |                                   ORDER BY ts, event_id) prev
        |      FROM events)
        |WHERE prev IS NOT NULL GROUP BY 1, 2, 3""".stripMargin,
    "q_located_region" ->
      """SELECT 'CUST:'||c.c_custkey subject_id,
        |       'located_in_region' relation_label,
        |       'REGION:'||n.n_regionkey object_id
        |FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey""".stripMargin,
    "q_best_supplier" ->
      s"""WITH $pcSql,
         |agg AS (
         |  SELECT pc.pid, l.l_suppkey,
         |         CAST(sum(CAST(floor(l.l_quantity*1000+0.5) AS BIGINT)) AS BIGINT) qty_milli
         |  FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey
         |  GROUP BY 1, 2)
         |SELECT pid subject_id, 'best_supplied_by' relation_label,
         |       'SUPP:'||l_suppkey object_id, qty_milli
         |FROM (SELECT pid, l_suppkey, qty_milli,
         |             row_number() OVER (PARTITION BY pid
         |               ORDER BY qty_milli DESC, l_suppkey) rn
         |      FROM agg)
         |WHERE rn = 1""".stripMargin,
    "q_closest_part" ->
      """WITH mk AS (
        |  SELECT CAST(replace(min('PARTRAW:' || p_partkey), 'PARTRAW:', '') AS BIGINT) minkey
        |  FROM part GROUP BY p_name),
        |ce AS (
        |  SELECT e.vec_id, CAST(e.embedding AS DOUBLE[]) emb
        |  FROM embeddings e JOIN mk ON mk.minkey = e.vec_id)
        |SELECT 'PART:'||vec_id subject_id, 'closest_to' relation_label,
        |       'PART:'||neighbor_id object_id
        |FROM (
        |  SELECT a.vec_id, b.vec_id neighbor_id,
        |         row_number() OVER (PARTITION BY a.vec_id
        |           ORDER BY list_cosine_similarity(a.emb, b.emb) DESC, b.vec_id) rn
        |  FROM ce a JOIN ce b ON b.vec_id <> a.vec_id)
        |WHERE rn = 1""".stripMargin,
    // ---- breadth block 5 ----
    "q_in_family" ->
      """SELECT 'PART:'||replace(min('PARTRAW:'||p_partkey), 'PARTRAW:', '')
        |         subject_id,
        |       'in_family' relation_label,
        |       'TYPE:fam_'||string_split(p_name, ' ')[2] object_id
        |FROM part GROUP BY p_name""".stripMargin,
    "q_variant_of" ->
      """WITH cf AS (
        |  SELECT CAST(replace(min('PARTRAW:'||p_partkey), 'PARTRAW:', '')
        |              AS BIGINT) mk,
        |         string_split(p_name, ' ')[2] fam
        |  FROM part GROUP BY p_name)
        |SELECT 'PART:'||prev subject_id, 'variant_of' relation_label,
        |       'PART:'||mk object_id, fam AS family
        |FROM (SELECT mk, fam, lag(mk) OVER (PARTITION BY fam ORDER BY mk) prev
        |      FROM cf)
        |WHERE prev IS NOT NULL""".stripMargin,
    // Models the per-order posting cap (an order's part list > maxDf
    // leaves the pair universe — can't engage here: <= 7 lineitems);
    // dfs and the order total come from the uncapped distinct universe,
    // exactly as the engine computes them.
    "q_bundle_with" ->
      """WITH pc AS (
        |  SELECT p_partkey,
        |         CAST(replace(min('PARTRAW:'||p_partkey)
        |                        OVER (PARTITION BY p_name),
        |                      'PARTRAW:', '') AS BIGINT) pid
        |  FROM part),
        |op AS (SELECT DISTINCT l.l_orderkey ok, pc.pid
        |       FROM lineitem l JOIN pc ON pc.p_partkey = l.l_partkey),
        |opf AS (SELECT ok, pid FROM (
        |          SELECT ok, pid, count(*) OVER (PARTITION BY ok) df FROM op)
        |        WHERE df <= 65536),
        |dfs AS (SELECT pid, count(*) df FROM op GROUP BY 1),
        |n AS (SELECT count(DISTINCT ok) nn FROM op),
        |pairs AS (SELECT a.pid p1, b.pid p2, count(*) nc
        |          FROM opf a JOIN opf b ON a.ok = b.ok AND a.pid < b.pid
        |          GROUP BY 1, 2 HAVING count(*) >= 2)
        |SELECT 'PART:'||p1 subject_id, 'bundle_with' relation_label,
        |       'PART:'||p2 object_id, CAST(nc AS BIGINT) n_common,
        |       CAST(floor((nc*1000*nn) / (d1.df*d2.df)) AS BIGINT) lift_milli
        |FROM pairs JOIN dfs d1 ON d1.pid = pairs.p1
        |           JOIN dfs d2 ON d2.pid = pairs.p2
        |           CROSS JOIN n""".stripMargin,
    "q_regulates" ->
      """WITH t AS (
        |  SELECT prev, event_type nxt, count(*) n FROM (
        |    SELECT event_type, lag(event_type) OVER (
        |      PARTITION BY user_id ORDER BY ts, event_id) prev
        |    FROM events)
        |  WHERE prev IS NOT NULL GROUP BY 1, 2),
        |r AS (SELECT prev, sum(n) r FROM t GROUP BY 1),
        |c AS (SELECT nxt, sum(n) c FROM t GROUP BY 1),
        |tot AS (SELECT sum(n) tt FROM t)
        |SELECT 'EVT:'||t.prev subject_id, 'regulates' relation_label,
        |       'EVT:'||t.nxt object_id,
        |       CASE WHEN t.n*tot.tt >= r.r*c.c THEN 'amplifies'
        |            ELSE 'dampens' END AS "mode",
        |       CAST(floor((t.n*1000*tot.tt) / (r.r*c.c)) AS BIGINT) lift_milli
        |FROM t JOIN r ON r.prev = t.prev JOIN c ON c.nxt = t.nxt
        |       CROSS JOIN tot""".stripMargin,
    "q_prefers" ->
      """WITH pt AS (SELECT user_id, event_type, count(*) n
        |            FROM events GROUP BY 1, 2),
        |pu AS (SELECT user_id, sum(n) tot FROM pt GROUP BY 1)
        |SELECT 'USER:'||pt.user_id subject_id, 'prefers' relation_label,
        |       'EVT:'||pt.event_type object_id,
        |       CAST(pt.n AS BIGINT) n_events,
        |       CAST(floor((pt.n*1000) / pu.tot) AS BIGINT) share_milli
        |FROM pt JOIN pu ON pu.user_id = pt.user_id
        |WHERE pt.n >= 2 AND floor((pt.n*1000) / pu.tot) >= 250""".stripMargin,
    "q_bought_from" ->
      """SELECT 'CUST:'||o.o_custkey subject_id, 'bought_from' relation_label,
        |       'SUPP:'||l.l_suppkey object_id,
        |       CAST(count(DISTINCT l.l_orderkey) AS BIGINT) n_orders,
        |       CAST(datediff('day', CAST(min(l.l_shipdate) AS DATE),
        |                     CAST(max(l.l_shipdate) AS DATE)) AS BIGINT) days_span
        |FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_repr_order" ->
      """SELECT 'CUST:'||o_custkey subject_id,
        |       'representative_order' relation_label,
        |       'ORDER:'||o_orderkey object_id,
        |       CAST(floor(o_totalprice*1000+0.5) AS BIGINT) totalprice_milli
        |FROM (SELECT o_custkey, o_orderkey, o_totalprice,
        |             row_number() OVER (PARTITION BY o_custkey
        |               ORDER BY o_totalprice, o_orderkey) rn,
        |             count(*) OVER (PARTITION BY o_custkey) n
        |      FROM orders)
        |WHERE rn = CAST(ceil(n/2.0) AS INT)""".stripMargin,
    "q_charged_with" ->
      """SELECT 'ORDER:'||l.l_orderkey subject_id, 'charged_with' relation_label,
        |       'TYPE:'||replace(p.p_type, ' ', '_') object_id,
        |       CAST(count(*) AS BIGINT) n_items,
        |       CAST(sum(CAST(floor(l.l_extendedprice*(1.0-l.l_discount)*1000+0.5)
        |                     AS BIGINT)) AS BIGINT) revenue_milli
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_dominant_lang" ->
      """SELECT 'SRC:'||replace(source, ' ', '_') subject_id,
        |       'dominant_lang' relation_label,
        |       'LANG:'||lang object_id, CAST(n AS BIGINT) n_docs,
        |       CAST(floor((n*1000) / tot) AS BIGINT) share_milli
        |FROM (SELECT source, lang, n,
        |             sum(n) OVER (PARTITION BY source) tot,
        |             row_number() OVER (PARTITION BY source
        |               ORDER BY n DESC, lang) rn
        |      FROM (SELECT source, lang, count(*) n
        |            FROM documents GROUP BY 1, 2))
        |WHERE rn = 1""".stripMargin,
    // Models the HandlesBrandCap=8 bounded evidence set (first-8
    // sorted distinct brands), same discipline as the LSH maxBucket
    // and ngram maxDf oracle modeling; the cap ENGAGES at fixture
    // scale (25 brands across 6 types per supplier).
    "q_handles" ->
      """SELECT 'SUPP:'||l.l_suppkey subject_id, 'handles' relation_label,
        |       'TYPE:'||replace(p.p_type, ' ', '_') object_id,
        |       CAST(count(DISTINCT l.l_partkey) AS BIGINT) n_parts,
        |       array_to_string(list_sort(list_distinct(list(p.p_brand)))[1:8],
        |                       '|') brands
        |FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        |GROUP BY 1, 2, 3""".stripMargin,
    "q_two_hop" ->
      """WITH e AS (
        |  SELECT 'ORDER:'||pk s, 'ORDER:'||o_orderkey o,
        |         CAST(datediff('day', CAST(pd AS DATE),
        |                       CAST(o_orderdate AS DATE)) AS BIGINT) g
        |  FROM (SELECT o_orderkey, o_orderdate,
        |               lag(o_orderkey) OVER w pk,
        |               lag(o_orderdate) OVER w pd
        |        FROM orders
        |        WINDOW w AS (PARTITION BY o_custkey
        |                     ORDER BY o_orderdate, o_orderkey))
        |  WHERE pk IS NOT NULL)
        |SELECT e1.s a, e1.o b, e2.o c, e1.g + e2.g total_gap_days
        |FROM e e1 JOIN e e2 ON e2.s = e1.o""".stripMargin
  )
}