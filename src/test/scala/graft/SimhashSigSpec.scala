package graft

import org.apache.spark.sql.functions._

/** Pins the native bench-side signature ([[graft.functions.SimhashSig]])
  * bit-identical to the HOF reference
  * ([[graft.functions.VectorOps.simhashBucket]]) — the independence
  * guarantee the banded decon tier rests on: the corpus-side scorer
  * (DeconScore) and the bench-side bucket builder both replicate the
  * HOF's hash-derived hyperplanes, so a drift in EITHER replica turns
  * this red before it silently empties every bucket. */
class SimhashSigSpec extends SparkSpec {

  private def pinConfig(nBits: Int): Unit = {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val diff = emb.select(
        col("vec_id"),
        graft.functions.Natives.call(spark, "simhash_sig_n",
                      col("embedding"), lit(nBits)).as("native"),
        graft.functions.VectorOps.simhashBucket(col("embedding"), nBits)
          .as("hof"))
      .filter(col("native") =!= col("hof") ||
              col("native").isNull =!= col("hof").isNull)
    assert(diff.isEmpty, diff.limit(5).collect().mkString("; "))
  }

  test("native signature == HOF reference at 48 bits (12x4) over the fixture") {
    pinConfig(48)
  }

  test("native signature == HOF reference at 56 bits (8x7) over the fixture") {
    pinConfig(56)
  }

  test("edge conventions match the HOF: empty vector, null element, null vector") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("embedding",
      ArrayType(FloatType, containsNull = true), nullable = true)))
    val rows = java.util.Arrays.asList(
      Row(Seq.empty[Float]),                       // empty: bucket 0 (HOF quirk)
      Row(Seq[Any](1.0f, null, 2.0f)),             // null element: bucket 0
      Row(null))                                   // null vector: bucket 0 (both sides)
    val df = spark.createDataFrame(rows, schema)
    val got = df.select(
        graft.functions.Natives.call(spark, "simhash_sig_n",
                      col("embedding"), lit(12)).as("native"),
        graft.functions.VectorOps.simhashBucket(col("embedding"), 12)
          .as("hof"))
      .collect()
    got.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString)
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), r.toString)
    }
  }
}
