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
  * lists, so a new family is one `EdgeType` plus one entry here.
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
  /** [[Corpus.docFacts]]. */
  case object DocFacts extends Input[DataFrame]
  /** [[Corpus.docLangFactsFrom]] the DocFacts frame. */
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
    EdgeFamily("fulfills", LineFacts, Corpus.fulfillsFrom),
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
    EdgeFamily("co_purchased_with", LineFacts, Corpus.coPurchasedFrom, eager = true),
    EdgeFamily("cites", DocFacts, Corpus.citesFrom),
    EdgeFamily("touched", Dims, (Corpus.touchedEdges _).tupled),
    EdgeFamily("peer_of", Dims, (Corpus.peerOfEdges _).tupled),
    EdgeFamily("next_order", Dims, (Corpus.nextOrderEdges _).tupled),
    EdgeFamily("returned", LineFacts, Corpus.returnedFrom),
    EdgeFamily("ships_to", LineFacts, Corpus.shipsToFrom),
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
    EdgeFamily("bought_from", LineFacts, Corpus.boughtFromFrom),
    EdgeFamily("representative_order", Dims,
      (Corpus.representativeOrderEdges _).tupled),
    EdgeFamily("charged_with", LineFacts, Corpus.chargedWithFrom),
    EdgeFamily("dominant_lang", DocLangFacts, Corpus.dominantLangFrom),
    EdgeFamily("handles", LineFacts, Corpus.handlesFrom))

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
}
