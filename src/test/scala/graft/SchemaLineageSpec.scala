package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.schema.{Families, KgSchema}

/** Conformance of the declared is_a lineage (reference
  * schema_config.yaml:207-215: every declared type carries an
  * inheritance parent) and the label_in_input / label_as_edge duals
  * (:56, :82, :146): the lineage must be an acyclic tree over the
  * declared type universe, the distributed closure must equal its
  * pure-Scala executable specification, and the export/input label
  * mappings must stay injective.
  */
class SchemaLineageSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("every declared type carries an is_a parent into the declared universe") {
    assert(KgSchema.nodeTypes.values.forall(_.isA.nonEmpty))
    assert(KgSchema.edgeTypes.values.forall(_.isA.nonEmpty))
    val declared = KgSchema.nodeTypes.keySet ++ KgSchema.edgeTypes.keySet ++
      KgSchema.abstractNodeTypes.keySet ++ KgSchema.abstractEdgeTypes.keySet
    assert(KgSchema.lineageEdges.forall { case (c, p) =>
      declared(c) && declared(p)
    })
  }

  test("lineage is acyclic and every concrete type reaches its root") {
    // lineagePairsWithSelf throws on a cycle or undeclared parent
    val closure = KgSchema.lineagePairsWithSelf.toSet
    KgSchema.nodeTypes.keySet.foreach { t =>
      assert(closure(t -> "named_thing"), s"$t must descend from named_thing")
    }
    KgSchema.edgeTypes.keySet.foreach { t =>
      assert(closure(t -> "related_to"), s"$t must descend from related_to")
    }
    // node and edge lineages never cross
    assert(!closure.exists { case (n, a) =>
      KgSchema.nodeTypes.contains(n) && KgSchema.abstractEdgeTypes.contains(a)
    })
  }

  test("distributed closure (Hierarchy.ancestors) equals the pure-Scala spec") {
    val dist = KgSchema.lineageClosure(spark)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(dist == KgSchema.lineagePairsWithSelf.toSet)
  }

  test("is_a rollup semantics: an ancestor's count is the sum of its descendants-or-self") {
    // tiny hand-check: agent = customer + supplier + user by lineage
    val closure = KgSchema.lineagePairsWithSelf
    val agentKids = closure.collect {
      case (n, "agent") if KgSchema.nodeTypes.contains(n) => n
    }.toSet
    assert(agentKids == Set("customer", "supplier", "user"))
    val succKids = closure.collect {
      case (n, "succession") if KgSchema.edgeTypes.contains(n) => n
    }.toSet
    assert(succKids == Set("next_order", "followed_by", "regulates", "cites"))
  }

  test("label_as_edge is injective and never collides with a node label") {
    val asEdge = KgSchema.edgeTypes.values.map(_.labelAsEdge.get).toSeq
    assert(asEdge.distinct.size == asEdge.size)
    assert(KgSchema.edgeTypes("near_dup_of").labelAsEdge
      .contains("IS_NEAR_DUPLICATE_OF"))
    assert(KgSchema.edgeTypes("placed").labelAsEdge.contains("PLACED"))
    val nodeLabels = KgSchema.nodeTypes.keySet
    assert(asEdge.forall(e => !nodeLabels(e)))
  }

  test("construction-time config validation: the declared schema is clean and the gate passes") {
    assert(KgSchema.configErrors.isEmpty,
      KgSchema.configErrors.mkString("; "))
    KgSchema.validateConfig() // must not throw
  }

  test("label_in_input is total over node types and injective") {
    val inputs = KgSchema.nodeTypes.values.map(_.labelInInput.get).toSeq
    assert(inputs.distinct.size == inputs.size)
    assert(KgSchema.nodeTypes("product").labelInInput.contains("part"))
    assert(KgSchema.nodeTypes("customer").labelInInput.contains("customer"))
  }

  test("family registry: unique labels, declared types, every edge family but the fused two") {
    val edges = Families.edges.map(_.label)
    assert(edges.distinct == edges)
    // `ordered` and `located_in` come out of the fused evidence frame,
    // which folds both through one prop list
    assert(edges.toSet ++ Set("ordered", "located_in") == KgSchema.edgeTypes.keySet)
    assert(KgSchema.edgeTypes("ordered").props == KgSchema.edgeTypes("located_in").props)
    val nodes = Families.nodes.map(_.label)
    assert(nodes.distinct == nodes)
    assert(nodes.toSet.subsetOf(KgSchema.nodeTypes.keySet))
  }
}
