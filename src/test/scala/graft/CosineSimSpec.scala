package graft

import org.apache.spark.sql.functions._

import graft.functions.{Natives, VectorOps}
import graft.queries.QueryDef

/** The native codegen'd cosine must be BIT-identical to the HOF
  * reference formulation — that identity is what lets the hot paths
  * swap it in without touching the DuckDB oracles. */
class CosineSimSpec extends SparkSpec {
  import spark.implicits._

  test("bit-identical to the HOF formulation on real embeddings") {
    val e = QueryDef.table(spark, sf0001, "embeddings").limit(200)
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("va"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("vb"))
    val pairs = a.join(b, col("id_a") < col("id_b")).limit(5000)
      .select(
        VectorOps.cosine(col("va"), col("vb")).as("hof"),
        VectorOps.cosineNative(spark, col("va"), col("vb")).as("native"))
    // exact bitwise comparison, not tolerance
    val diff = pairs.filter(
      col("hof") =!= col("native") ||
      (col("hof").isNull =!= col("native").isNull)).count()
    assert(diff == 0)
  }

  test("null/length/NaN edge cases match HOF semantics") {
    Natives.register(spark)
    val df = Seq(
      (Some(Array(1.0f, 2.0f)), Some(Array(1.0f, 2.0f, 3.0f))), // length mismatch
      (None, Some(Array(1.0f))),                                // null array
      (Some(Array(0.0f, 0.0f)), Some(Array(1.0f, 1.0f)))        // zero norm
    ).toDF("a", "b")
    val rows = df.selectExpr("cosine_sim(a, b) AS c").collect()
    assert(rows(0).isNullAt(0))
    assert(rows(1).isNullAt(0))
    assert(rows(2).getDouble(0).isNaN)
  }

  test("bloom trio: SQL agg builds a filter; literal and file probes agree bit-for-bit") {
    Natives.register(spark)
    Seq("alpha", "beta", "gamma").toDF("s")
      .createOrReplaceTempView("bloom_items")
    val bytes = spark.sql(
      "SELECT bloom_agg(xxhash64(s), 16L, 256L) FROM bloom_items")
      .head().getAs[Array[Byte]](0)
    val f = java.io.File.createTempFile("graft-test-trio", ".bf")
    f.deleteOnExit()
    java.nio.file.Files.write(f.toPath, bytes)
    val rows = Seq("alpha", "beta", "gamma", "never-inserted-1",
                   "never-inserted-2").toDF("s")
      .select(col("s"),
        Natives.call(spark, "bloom_might_contain", lit(bytes),
                     xxhash64(col("s"))).as("via_literal"),
        Natives.call(spark, "bloom_probe_file", lit(f.getAbsolutePath),
                     xxhash64(col("s"))).as("via_file"))
      .collect()
    rows.foreach { r =>
      // the file-backed probe must be bit-compatible with Spark's own
      // might_contain over the same serialized filter
      assert(r.getBoolean(1) == r.getBoolean(2), s"probe disagreement: $r")
    }
    // no false negatives for inserted items
    assert(rows.take(3).forall(_.getBoolean(2)))
  }
}
