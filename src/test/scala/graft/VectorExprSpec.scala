package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.VectorExprs
import graft.sim.Knn

/** The native codegen'd vector expressions must be BIT-identical to
  * the composable Column forms they replace — the DuckDB oracles model
  * the composable forms, so any float divergence would surface as a
  * hash mismatch at driver time. Cross-checked here on real fixture
  * embeddings (codegen path) and via direct eval (interpreted path).
  */
class VectorExprSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet(s"${TestSpark.sf0001}/embeddings.parquet")
    .select(col("vec_id").as("id"), col("embedding").as("emb"))

  test("floatDot is bit-identical to aggregate(zip_with(...)) on fixture pairs") {
    val a = emb.select(col("id").as("id1"), col("emb").as("e1"))
    val b = emb.select(col("id").as("id2"), col("emb").as("e2"))
    val pairs = a.join(b, col("id1") % 7 === col("id2") % 7 && col("id1") < col("id2"))
      .limit(5000)
    val diff = pairs
      .select(Knn.dot(col("e1"), col("e2")).as("nat"),
        Knn.dotHof(col("e1"), col("e2")).as("hof"))
      .filter(col("nat") =!= col("hof")) // exact bit compare via double equality
      .count()
    assert(diff === 0L)
  }


  test("adcDist native matches the aggregate(sequence(...)) HOF form bit-for-bit") {
    import graft.sim.Quant
    val coded = emb.select(col("id"), col("emb"),
      Quant.pqCodes(col("emb")).as("pc"))
    // asymmetric: every vector's full-precision emb vs every 5th row's code
    val pairs = coded.alias("q").join(
        coded.filter(col("id") % 5 === 0).alias("c"),
        col("q.id") =!= col("c.id"))
      .select(col("q.emb").as("qe"), col("c.pc").as("pc"))
    val diff = pairs
      .select(Quant.adcDist(col("qe"), col("pc")).as("nat"),
        Quant.adcDistHof(col("qe"), col("pc")).as("hof"))
      .filter(col("nat") =!= col("hof")) // exact bit compare via double equality
      .count()
    assert(diff === 0L)
  }


  test("byteDot native equals the aggregate(zip_with(...)) HOF form on SQ8 codes") {
    import graft.sim.Quant
    val coded = emb.select(col("id"), Quant.sq8Codes(col("emb")).as("z"))
    val pairs = coded.alias("a").join(
        coded.filter(col("id") % 5 === 0).alias("b"), col("a.id") =!= col("b.id"))
      .select(col("a.z").as("z1"), col("b.z").as("z2"))
    val diff = pairs
      .select(Quant.intDot(col("z1"), col("z2")).as("nat"),
        Quant.intDotHof(col("z1"), col("z2")).as("hof"))
      .filter(col("nat") =!= col("hof"))
      .count()
    assert(diff === 0L)
  }

  test("srpSignature native matches the unrolled Column form on every fixture row and table") {
    val dim = emb.select(size(col("emb"))).head().getInt(0)
    val checks = (0 until 4).map { t =>
      (Knn.srpSignature(col("emb"), 6, t) =!=
        Knn.srpSignatureHof(col("emb"), dim, 6, t)).cast("int").as(s"t$t")
    }
    val bad = emb.select(checks: _*)
      .select(checks.indices.map(i => sum(col(s"t$i"))).reduce(_ + _).as("bad"))
      .head().getLong(0)
    assert(bad === 0L)
  }

  test("kernels stay bit-identical at reference width (1024-d)") {
    // The reference's embeddings are 1024/1280-d (ProtT5/ESM); the
    // fixtures are 64-d. Tile each fixture vector to 1024-d with scaled
    // copies and assert the native kernels still match their composable
    // Column forms bit-for-bit — the exactness envelope of the
    // sequential-fold contract must not depend on width.
    val wide = emb.select(col("id"),
      flatten(transform(sequence(lit(0), lit(15)), r =>
        transform(col("emb"),
          x => (x * (lit(1.0f) + r.cast("float") / lit(16.0f))).cast("float")))).as("emb"))
    // floatDot at 1024-d
    val a = wide.select(col("id").as("id1"), col("emb").as("e1"))
    val b = wide.select(col("id").as("id2"), col("emb").as("e2"))
    val pairs = a.join(b, col("id1") % 7 === col("id2") % 7 && col("id1") < col("id2"))
      .limit(500)
    assert(pairs
      .select(Knn.dot(col("e1"), col("e2")).as("nat"),
        Knn.dotHof(col("e1"), col("e2")).as("hof"))
      .filter(col("nat") =!= col("hof")).count() === 0L)
    // SRP signature at 1024-d (native loop vs the per-plane fold form)
    assert(wide
      .select(Knn.srpSignature(col("emb"), 6, 0).as("nat"),
        Knn.srpSignatureHof(col("emb"), 1024, 6, 0).as("hof"))
      .filter(col("nat") =!= col("hof")).count() === 0L)
    // CentroidDists at 1024-d vs an explicit sequential double fold
    // (seed 0.0, term order d = 1..dim — the oracle-modeled order), as
    // one shallow `aggregate`: a 1024-deep Column tree outgrows codegen
    // and its interpreted fallback can overflow an executor's stack.
    val cents = graft.sim.Ivf.fixedCentroids(2, 1024)
    def distHof(e: org.apache.spark.sql.Column,
                c: Array[Double]): org.apache.spark.sql.Column =
      aggregate(zip_with(e, typedLit(c.toSeq), (x, cd) => x.cast("double") - cd),
        lit(0.0), (acc, diff) => acc + diff * diff)
    assert(wide
      .select(VectorExprs.centroidDists(col("emb"), cents).as("nat"),
        array(distHof(col("emb"), cents(0)), distHof(col("emb"), cents(1))).as("hof"))
      .filter(col("nat") =!= col("hof")).count() === 0L)
  }

  test("floatDot null semantics match the HOF form: null array, null element, length mismatch") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true), nullable = true),
      StructField("b", ArrayType(FloatType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(Seq(1.0f, 2.0f), Seq(3.0f, 4.0f)),            // plain
      Row(null, Seq(1.0f)),                             // null array
      Row(Seq(1.0f, null), Seq(1.0f, 2.0f)),            // null element
      Row(Seq(1.0f, 2.0f, 3.0f), Seq(1.0f, 2.0f)),      // length mismatch
      Row(Seq.empty[Float], Seq.empty[Float]),          // empty
      Row(Seq(Float.NaN, 1.0f), Seq(1.0f, 1.0f)))       // NaN propagates
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows.map(r => Row(
        Option(r.get(0)).orNull, Option(r.get(1)).orNull))), schema)
    val out = df.select(
      Knn.dot(col("a"), col("b")).as("nat"),
      Knn.dotHof(col("a"), col("b")).as("hof"))
      .collect()
    out.foreach { r =>
      val n = if (r.isNullAt(0)) None else Some(r.getDouble(0))
      val h = if (r.isNullAt(1)) None else Some(r.getDouble(1))
      (n, h) match {
        case (Some(x), Some(y)) =>
          assert(java.lang.Double.doubleToLongBits(x) ===
            java.lang.Double.doubleToLongBits(y))
        case _ => assert(n.isEmpty === h.isEmpty)
      }
    }
    assert(out(0).getDouble(0) === 11.0)
    assert(out(1).isNullAt(0) && out(2).isNullAt(0) && out(3).isNullAt(0))
    assert(out(4).getDouble(0) === 0.0)
    assert(out(5).getDouble(0).isNaN)
  }

  test("interpreted eval matches codegen results") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    val a = Literal(ArrayData.toArrayData(Array(1.5f, -2.25f, 3.0f)),
      ArrayType(FloatType, containsNull = false))
    val b = Literal(ArrayData.toArrayData(Array(0.5f, 4.0f, -1.0f)),
      ArrayType(FloatType, containsNull = false))
    val d = VectorExprs.FloatDot(a, b).eval(null)
    assert(d === (1.5 * 0.5 + (-2.25) * 4.0 + 3.0 * (-1.0)))
    val s0 = VectorExprs.SrpSig(a, 6, 0).eval(null)
    // same vector through the codegen'd DataFrame path
    val viaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(Seq(1.5f, -2.25f, 3.0f)))),
      StructType(Seq(StructField("e", ArrayType(FloatType, false)))))
      .select(Knn.srpSignature(col("e"), 6, 0).as("s"))
      .head().getLong(0)
    assert(s0 === viaDf)
  }
}
