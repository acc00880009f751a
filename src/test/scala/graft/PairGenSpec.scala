package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.PairExprs

/** The streaming pair generator must emit the IDENTICAL pair stream the
  * composable transform/slice/flatten/explode form emitted. It replaced
  * that form in the pair-counting kernel (PairDedup.pairStream, behind
  * coOccurrencePairs and DedupOps.ngramJaccardPairs) and in
  * Triples.coOrderedFromSets; value-identity is what keeps those
  * oracles green. */
class PairGenSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  /** The old composable form, kept here as the executable spec. */
  private def composablePairs(dsCol: org.apache.spark.sql.Column) = {
    val ds = dsCol
    flatten(transform(
      sequence(lit(0), size(ds) - 2),
      i => transform(
        slice(ds, i + 2, size(ds) - i - 1),
        k2 => struct(element_at(ds, i + 1).as("k1"), k2.as("k2")))))
  }

  test("unorderedPairs == transform/slice/flatten/explode, row for row") {
    val rows = Seq(
      Seq(5L, 1L, 9L, 3L),
      Seq(1L, 2L),
      Seq(7L),
      Seq.empty[Long],
      (1L to 60L).toSeq)
    val df = rows.toDF("ds").repartition(3)
    val got = df.select(PairExprs.unorderedPairs($"ds").as(Seq("k1", "k2")))
      .as[(Long, Long)].collect().toSeq.sorted
    // The composable form was only ever evaluated behind a size >= 2
    // guard (postings filtered on total >= 2 / size(ps) >= 2) — it
    // errors below that; the generator must emit nothing there instead.
    val want = df.filter(size($"ds") >= 2)
      .select(explode(composablePairs($"ds")).as("p"))
      .select($"p.k1", $"p.k2").as[(Long, Long)].collect().toSeq.sorted
    assert(got == want)
    assert(got.size == rows.map(r => r.size * (r.size - 1) / 2).sum)
  }

  test("unorderedPairs over array_sort == least/greatest pair set") {
    // coOrderedFromSets equivalence: pairs of a SORTED distinct array
    // are exactly the {least, greatest} canonical pairs of the raw one.
    val raw = Seq(Seq(9L, 2L, 5L), Seq(3L, 8L))
    val df = raw.toDF("ps")
    val got = df.select(PairExprs.unorderedPairs(array_sort($"ps")).as(Seq("h1", "h2")))
      .as[(Long, Long)].collect().toSet
    val want = raw.flatMap(ps =>
      for (a <- ps; b <- ps if a < b) yield (a, b)).toSet
    assert(got == want)
    assert(got.forall { case (a, b) => a < b })
  }

  test("unorderedPairs handles strings and null elements") {
    val df = Seq(Tuple1(Seq[String]("b", null, "a"))).toDF("ds")
    val got = df.select(PairExprs.unorderedPairs($"ds").as(Seq("k1", "k2")))
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(got == Seq(("b", null), ("b", "a"), (null, "a")))
  }
}
