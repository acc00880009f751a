package graft

import org.scalatest.funsuite.AnyFunSuite

/** The resume fingerprints derived from `Pipeline.StageTable`: a change
  * to a stage's version or to a run parameter must change the
  * fingerprint of exactly the stages that read it, directly or through
  * their upstream stages. No Spark. */
class StageFingerprintSpec extends AnyFunSuite {
  private val table = Pipeline.StageTable
  private val params = Map("input" -> "/in#0123456789abcdef", "mult" -> "1")
  private val base = Pipeline.fingerprints(table, params)

  private def changed(fps: Map[String, String]): Set[String] =
    table.map(_.name).filter(s => fps(s) != base(s)).toSet

  test("the stage list and bucket keys come from the table") {
    assert(Pipeline.Stages == Seq("canonical_ids", "extracted", "mentions",
      "pagesets", "triples", "nodes", "edges"))
    assert(table.flatMap(s => s.bucketKey.map(s.name -> _)).toMap ==
      Map("nodes" -> "id", "edges" -> "subject_id"))
    assert(table.map(s => base(s.name)).distinct.size == table.size)
    assert(Pipeline.fingerprints(table, params) == base)
  }

  test("bumping a stage's version changes exactly it and its transitive dependents") {
    val dependents = Map(
      "canonical_ids" -> Set("canonical_ids", "pagesets", "triples", "nodes", "edges"),
      "extracted" -> Set("extracted", "mentions", "pagesets", "triples", "edges"),
      "mentions" -> Set("mentions", "pagesets", "triples", "edges"),
      "pagesets" -> Set("pagesets", "triples", "edges"),
      "triples" -> Set("triples"),
      "nodes" -> Set("nodes", "edges"),
      "edges" -> Set("edges"))
    assert(dependents.keySet == table.map(_.name).toSet)
    table.foreach { s =>
      val bumped = table.map(t => if (t.name == s.name) t.copy(version = t.version + "+1") else t)
      assert(changed(Pipeline.fingerprints(bumped, params)) == dependents(s.name), s.name)
    }
  }

  test("a changed mult changes the page stages and edges, not canonical_ids or nodes") {
    assert(changed(Pipeline.fingerprints(table, params + ("mult" -> "2"))) ==
      Set("extracted", "mentions", "pagesets", "triples", "edges"))
  }

  test("a changed input identity changes every stage") {
    assert(changed(Pipeline.fingerprints(table, params + ("input" -> "/in#fedcba9876543210"))) ==
      table.map(_.name).toSet)
  }
}
