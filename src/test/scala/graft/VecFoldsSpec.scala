package graft

import org.apache.spark.sql.functions._

import graft.functions.{Natives, VectorOps}
import graft.analytics.IvfIndex
import graft.queries.QueryDef

/** The three r16 fold natives ([[graft.functions.DotF]]/[[DotL]]/
  * [[SqDist]]) must be BIT-identical to the HOF references they
  * replaced on corpus-scaled serve frames — that identity is what
  * keeps every DuckDB oracle of the int8/MIPS/L2 serving tier
  * unchanged (the [[CosineSimSpec]] contract, extended to the rest of
  * the fold family). */
class VecFoldsSpec extends SparkSpec {
  import spark.implicits._

  private def hofDotL(a: org.apache.spark.sql.Column,
                      b: org.apache.spark.sql.Column) =
    aggregate(zip_with(a, b, (x, y) => x * y),
              lit(0L), (acc, v) => acc + v)

  test("dot_f bit-identical to the HOF double fold on real embeddings") {
    val e = QueryDef.table(spark, sf0001, "embeddings").limit(200)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_a") < col("id_b")).limit(5000)
      .select(
        VectorOps.dot(col("va"), col("vb")).as("hof"),
        VectorOps.dotNative(spark, col("va"), col("vb")).as("native"))
    val diff = pairs.filter(
      col("hof") =!= col("native") ||
      (col("hof").isNull =!= col("native").isNull)).count()
    assert(diff == 0)
  }

  test("sq_dist bit-identical to the HOF fold on real embeddings (float-double AND float-float)") {
    val e = QueryDef.table(spark, sf0001, "embeddings").limit(200)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    // (float, double): the centroid/residual shape
    val bd = e.select(col("vec_id").as("id_b"),
                      transform(col("embedding"), _.cast("double")).as("vb"))
    // (float, float): the brute-force L2 serve shape — the one the
    // first cut of SqDist REJECTED at analysis (ss05/06/07 wrote
    // nothing at the sf0.01 oracle gate), pinned here so the accepted
    // type surface can never silently narrow again
    val bf = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    for (b <- Seq(bd, bf)) {
      val pairs = a.join(b, col("id_a") < col("id_b")).limit(5000)
        .select(
          IvfIndex.sqDistCol(col("va"), col("vb")).as("hof"),
          IvfIndex.sqDistNative(spark, col("va"), col("vb")).as("native"))
      val diff = pairs.filter(
        col("hof") =!= col("native") ||
        (col("hof").isNull =!= col("native").isNull)).count()
      assert(diff == 0)
    }
  }

  test("dot_l bit-identical to the HOF integer fold on int8 codes") {
    val qz = graft.analytics.Similarity.int8Quantized(
      QueryDef.table(spark, sf0001, "embeddings").limit(200))
    val a = qz.select(col("vec_id").as("id_a"), col("__q").as("qa"))
    val b = qz.select(col("vec_id").as("id_b"), col("__q").as("qb"))
    val pairs = a.join(b, col("id_a") < col("id_b")).limit(5000)
      .select(
        hofDotL(col("qa"), col("qb")).as("hof"),
        VectorOps.dotLongNative(spark, col("qa"), col("qb")).as("native"))
    val diff = pairs.filter(
      col("hof") =!= col("native") ||
      (col("hof").isNull =!= col("native").isNull)).count()
    assert(diff == 0)
  }

  test("edge conventions match the HOF folds: null array, length mismatch, null element, empty") {
    Natives.register(spark)

    val f = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0f, 2.0f, 3.0f))), // length mismatch
      (None, Some(Seq(1.0f))),                              // null array
      (Some(Seq[Float]()), Some(Seq[Float]()))              // empty pair
    ).toDF("a", "b")
    val fr = f.select(
      call_function("dot_f", col("a"), col("b")).as("n"),
      VectorOps.dot(col("a"), col("b")).as("h")).collect()
    assert(fr(0).isNullAt(0) && fr(0).isNullAt(1)) // both null
    assert(fr(1).isNullAt(0) && fr(1).isNullAt(1))
    assert(fr(2).getDouble(0) == 0.0 && fr(2).getDouble(1) == 0.0)

    // null ELEMENT: both sides null out (zip_with product null -> sum null)
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true)),
      StructField("b", ArrayType(FloatType, containsNull = true))))
    val ne = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq[Any](1.0f, null, 2.0f), Seq[Any](1.0f, 1.0f, 1.0f))),
      schema)
    val ner = ne.select(
      call_function("dot_f", col("a"), col("b")).as("n"),
      VectorOps.dot(col("a"), col("b")).as("h")).collect()
    assert(ner(0).isNullAt(0) && ner(0).isNullAt(1))

    val l = Seq(
      (Some(Seq(3L, 4L)), Some(Seq(3L))),    // length mismatch
      (None, Some(Seq(1L))),                 // null array
      (Some(Seq[Long]()), Some(Seq[Long]())) // empty pair
    ).toDF("a", "b")
    val lr = l.select(
      call_function("dot_l", col("a"), col("b")).as("n"),
      hofDotL(col("a"), col("b")).as("h")).collect()
    assert(lr(0).isNullAt(0) && lr(0).isNullAt(1))
    assert(lr(1).isNullAt(0) && lr(1).isNullAt(1))
    assert(lr(2).getLong(0) == 0L && lr(2).getLong(1) == 0L)

    val s = Seq(
      (Some(Seq(1.0f, 2.0f)), Some(Seq(1.0))),   // length mismatch
      (None, Some(Seq(1.0))),                    // null array
      (Some(Seq[Float]()), Some(Seq[Double]()))  // empty pair
    ).toDF("a", "b")
    val sr = s.select(
      call_function("sq_dist", col("a"), col("b")).as("n"),
      IvfIndex.sqDistCol(col("a"), col("b")).as("h")).collect()
    assert(sr(0).isNullAt(0) && sr(0).isNullAt(1))
    assert(sr(1).isNullAt(0) && sr(1).isNullAt(1))
    assert(sr(2).getDouble(0) == 0.0 && sr(2).getDouble(1) == 0.0)
  }
}
