package graft

import scala.util.Try
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.fixtures.Corpus
import graft.schema.{Families, KgSchema}

/** Every registry family built standalone through
  * [[Families.Standalone]] — the frames the oracle queries and the census
  * read — conforms to the declared schema, and every family's declared
  * input is the one its builder actually needs. */
class StandaloneFamiliesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  private val sf = TestSpark.sf0001

  test("standalone: every edge family but the page-derived ones conforms and is non-empty at sf0.001") {
    val fam = Families.Standalone(spark, sf)
    val labels = Families.edges.filter(_.input != Families.PageSets).map(_.label)
    // through the sink projection, so every declared prop column exists
    val edges = labels.map(l => KgSchema.edgeRows(l, fam.edges(l)))
      .map(_.select("subject_id", "relation_label", "object_id"))
      .reduce(_ unionByName _)
      .localCheckpoint()
    assert(KgSchema.edgeViolations(edges).isEmpty)
    val present = edges.select("relation_label").distinct().as[String].collect().toSet
    assert(present == labels.toSet, s"empty: ${labels.toSet -- present}")
  }

  test("standalone: every node family conforms and is non-empty at sf0.001") {
    val fam = Families.Standalone(spark, sf)
    val labels = Families.nodes.map(_.label)
    val nodes = labels.map(fam.nodes)
      .map(_.withColumn("props_arr", map().cast("map<string,array<string>>"))
        .withColumn("embedding", lit(null).cast("array<float>")))
      .reduce(_ unionByName _)
      .localCheckpoint()
    assert(KgSchema.nodeViolations(nodes.select("id", "label")).isEmpty)
    assert(KgSchema.nodePropViolations(nodes).isEmpty)
    val present = nodes.select("label").distinct().as[String].collect().toSet
    assert(present == labels.toSet, s"empty: ${labels.toSet -- present}")
  }

  /** `f` built over `lf` when `f` reads line facts. */
  private def overLineFacts[A](f: Families.EdgeFamily[A], lf: DataFrame): Option[Try[DataFrame]] =
    f.input match {
      case Families.LineFacts => Some(Try(f.build(lf)))
      case Families.RawLineFacts => Some(Try(f.build(lf)))
      case _ => None
    }

  test("standalone: exactly the RawLineFacts families build over line facts without the canonical id") {
    val raw = Corpus.lineFacts(spark, sf, None)
    assert(!raw.columns.contains("cid"))
    assert(!Families.Standalone(spark, sf).source(Families.RawLineFacts)
      .columns.contains("cid"))
    val built = Families.edges.flatMap(f => overLineFacts(f, raw).map(f -> _))
    val canonFree = built.collect { case (f, t) if t.isSuccess => f.label }.toSet
    val declared = Families.edges.filter(_.input == Families.RawLineFacts).map(_.label).toSet
    assert(declared == Set("fulfills", "co_purchased_with", "ships_to",
      "bought_from", "charged_with", "handles"))
    // a LineFacts family that built here would have to be declared raw
    assert(canonFree == declared)
  }
}
