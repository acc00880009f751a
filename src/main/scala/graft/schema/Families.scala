package graft.schema

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import graft.fixtures.Corpus
import graft.triples.Triples

/** The one declared list of the graph's derived families: every edge
  * family except the two the fused evidence frame carries (`ordered`,
  * `located_in`), and every plain node family. Each entry names the
  * shared input it reads and its builder over that input; its prop keys
  * are its [[KgSchema.EdgeType]]'s, folded in by [[KgSchema.edgeRows]].
  * The pipeline's family frames and the census query derive from these
  * lists, and every standalone family frame (the oracle queries, the
  * specs) is built through [[Standalone]], so a new family is one
  * `EdgeType` plus one entry here.
  *
  * Families are grouped by shared join path (the path-concatenation
  * idea): all families over one fact input reduce that one shared
  * frame instead of each re-joining its source tables.
  */
object Families {

  /** A shared input of the family builders; `A` is what a builder gets. */
  sealed abstract class Input[A]
  /** The source tables themselves: `(spark, sfDir)`. */
  case object Dims extends Input[(SparkSession, String)]
  /** [[Corpus.lineFacts]] with the canonical part ids joined in. */
  case object LineFacts extends Input[DataFrame]
  /** [[Corpus.lineFacts]] for builders that never read `cid`: the
    * pipeline hands them its shared LineFacts frame, a standalone build
    * skips the canonical-id join (and its connected-components plan). */
  case object RawLineFacts extends Input[DataFrame]
  /** [[Corpus.docFacts]]. */
  case object DocFacts extends Input[DataFrame]
  /** [[Corpus.docLangFactsFrom]]: the documents' (source, lang) rollup
    * (the pipeline rolls up its DocFacts frame). */
  case object DocLangFacts extends Input[DataFrame]
  /** [[Corpus.eventFacts]]. */
  case object EventFacts extends Input[DataFrame]
  /** [[Corpus.followedByEdges]]: a family itself and the regulates input. */
  case object FollowedBy extends Input[DataFrame]
  /** The committed per-page entity sets, with the canonical-id table. */
  case object PageSets extends Input[(DataFrame, DataFrame)]

  /** An edge family. `eager`: its builder runs Spark actions (bounded-
    * posting caps, candidate materialization), so the pipeline submits
    * it before the plan-only families. */
  final case class EdgeFamily[A](label: String, input: Input[A],
      build: A => DataFrame, eager: Boolean = false)

  /** A plain node family (id, label, props). */
  final case class NodeFamily[A](label: String, input: Input[A],
      build: A => DataFrame)

  /** In edges-union order: the pipeline unions the fused evidence frame
    * first, then these. */
  val edges: Seq[EdgeFamily[_]] = Seq(
    EdgeFamily("placed", Dims, (Corpus.placedEdges _).tupled),
    EdgeFamily("contains", LineFacts, Corpus.containsFrom),
    EdgeFamily("of_type", Dims, (Corpus.ofTypeEdges _).tupled),
    EdgeFamily("performed", EventFacts, Corpus.performedFrom),
    EdgeFamily("written_in", DocFacts, Corpus.writtenInFrom),
    EdgeFamily("from_source", DocFacts, Corpus.fromSourceFrom),
    EdgeFamily("fulfills", RawLineFacts, Corpus.fulfillsFrom),
    EdgeFamily("supplies", LineFacts, Corpus.supplyFrom),
    EdgeFamily("in_region", Dims, (Corpus.inRegionEdges _).tupled),
    EdgeFamily("branded_as", Dims, (Corpus.brandedAsEdges _).tupled),
    EdgeFamily("in_segment", Dims, (Corpus.inSegmentEdges _).tupled),
    EdgeFamily("from_nation", Dims, (Corpus.fromNationEdges _).tupled),
    EdgeFamily("rated", LineFacts, Corpus.ratedFrom),
    EdgeFamily("co_ordered_with", PageSets, (ps: (DataFrame, DataFrame)) =>
      Triples.coOrderedFromSets(ps._1, ps._2).withColumn("sources", lit("web"))),
    EdgeFamily("near_dup_of", DocFacts, Corpus.nearDupFrom, eager = true),
    EdgeFamily("shares_part", LineFacts, Corpus.sharesPartFrom, eager = true),
    EdgeFamily("co_purchased_with", RawLineFacts, Corpus.coPurchasedFrom, eager = true),
    EdgeFamily("cites", DocFacts, Corpus.citesFrom),
    EdgeFamily("touched", Dims, (Corpus.touchedEdges _).tupled),
    EdgeFamily("peer_of", Dims, (Corpus.peerOfEdges _).tupled),
    EdgeFamily("next_order", Dims, (Corpus.nextOrderEdges _).tupled),
    EdgeFamily("returned", LineFacts, Corpus.returnedFrom),
    EdgeFamily("ships_to", RawLineFacts, Corpus.shipsToFrom),
    EdgeFamily("similar_to", DocFacts, Corpus.similarToFrom),
    EdgeFamily("followed_by", FollowedBy, identity[DataFrame]),
    EdgeFamily("located_in_region", Dims, (Corpus.locatedInRegionEdges _).tupled),
    EdgeFamily("best_supplied_by", LineFacts, Corpus.bestSupplierFrom),
    EdgeFamily("closest_to", Dims, (Corpus.closestPartEdges _).tupled),
    EdgeFamily("in_family", Dims, (Corpus.inFamilyEdges _).tupled),
    EdgeFamily("variant_of", Dims, (Corpus.variantOfEdges _).tupled),
    EdgeFamily("bundle_with", LineFacts, Corpus.bundleWithFrom, eager = true),
    EdgeFamily("regulates", FollowedBy, Corpus.regulatesFrom, eager = true),
    EdgeFamily("prefers", EventFacts, Corpus.prefersFrom),
    EdgeFamily("bought_from", RawLineFacts, Corpus.boughtFromFrom),
    EdgeFamily("representative_order", Dims,
      (Corpus.representativeOrderEdges _).tupled),
    EdgeFamily("charged_with", RawLineFacts, Corpus.chargedWithFrom),
    EdgeFamily("dominant_lang", DocLangFacts, Corpus.dominantLangFrom),
    EdgeFamily("handles", RawLineFacts, Corpus.handlesFrom))

  /** In nodes-union order, after the mention-derived typed entities. */
  val nodes: Seq[NodeFamily[_]] = Seq(
    NodeFamily("order", Dims, (Corpus.orderNodes _).tupled),
    NodeFamily("document", DocFacts, Corpus.documentNodesFrom),
    NodeFamily("ptype", Dims, (Corpus.ptypeNodes _).tupled),
    NodeFamily("user", EventFacts, Corpus.userNodesFrom),
    NodeFamily("event_type", EventFacts, Corpus.eventTypeNodesFrom),
    NodeFamily("language", DocLangFacts, Corpus.languageNodesFrom),
    NodeFamily("source", DocLangFacts, Corpus.sourceNodesFrom),
    NodeFamily("supplier", Dims, (Corpus.supplierNodes _).tupled),
    NodeFamily("region", Dims, (Corpus.regionNodes _).tupled),
    NodeFamily("brand", Dims, (Corpus.brandNodes _).tupled),
    NodeFamily("segment", Dims, (Corpus.segmentNodes _).tupled))

  /** Every input built standalone from the source tables, with one
    * canonical-id table per resolver, built on first use. */
  final case class Standalone(spark: SparkSession, sfDir: String) {
    private lazy val canon = Corpus.canonicalIds(spark, sfDir)

    def source[A](in: Input[A]): A = in match {
      case Dims => (spark, sfDir)
      case LineFacts => Corpus.lineFacts(spark, sfDir, Some(canon))
      case RawLineFacts => Corpus.lineFacts(spark, sfDir, None)
      case DocFacts => Corpus.docFacts(spark, sfDir)
      case DocLangFacts =>
        Corpus.docLangFactsFrom(Corpus.table(spark, sfDir, "documents"))
      case EventFacts => Corpus.eventFacts(spark, sfDir)
      case FollowedBy => Corpus.followedByEdges(spark, sfDir)
      case PageSets => sys.error("page-derived families read the pipeline's page sets")
    }

    /** The registry edge family `label`, built over its standalone input. */
    def edges(label: String): DataFrame =
      Families.edges.find(_.label == label) match {
        case Some(f: EdgeFamily[a]) => f.build(source(f.input))
        case None => throw new NoSuchElementException(s"no edge family $label")
      }

    /** The registry node family `label`, built over its standalone input. */
    def nodes(label: String): DataFrame =
      Families.nodes.find(_.label == label) match {
        case Some(f: NodeFamily[a]) => f.build(source(f.input))
        case None => throw new NoSuchElementException(s"no node family $label")
      }
  }
}
