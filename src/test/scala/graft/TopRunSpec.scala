package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The native champion-run ([[graft.functions.TopRun]]) must match the
  * HOF fold it replaced in dq03 walk-for-walk — same sort order, same
  * null-comparison fallthrough, same strict-> tie-break, same ("", 0)
  * empty seed — so dq03's DuckDB oracle holds unchanged. */
class TopRunSpec extends SparkSpec {
  import spark.implicits._

  /** The retired dq03 fold, verbatim (the independent reference). */
  private def topRunHof(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(lit("").as("prev"), lit(0L).as("run"),
             lit("").as("best"), lit(0L).as("bestn")),
      (acc, x) => {
        val newRun = when(x === acc("prev"), acc("run") + lit(1L))
          .otherwise(lit(1L))
        val better = newRun > acc("bestn")
        struct(x.as("prev"), newRun.as("run"),
               when(better, x).otherwise(acc("best")).as("best"),
               when(better, newRun).otherwise(acc("bestn")).as("bestn"))
      },
      acc => struct(acc("best").as("gram"), acc("bestn").as("n")))

  private def pinEqual(df: org.apache.spark.sql.DataFrame,
                       arr: Column): Unit = {
    val both = df.select(
      graft.functions.Natives.call(spark, "top_run", arr).as("nat"),
      topRunHof(arr).as("hof"))
    val diff = both.filter(
      col("nat.n") =!= col("hof.n") ||
      (col("nat.gram") <=> col("hof.gram")) === false)
    assert(diff.isEmpty, diff.limit(5).collect().mkString("; "))
  }

  test("native == HOF fold on real document words and bigrams") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id",
        """filter(split(lower(text), '\\s+'), w -> length(w) > 0) AS words""")
    pinEqual(docs, col("words"))
    pinEqual(docs, expr(
      """zip_with(slice(words, 1, greatest(size(words) - 1, 0)),
        |         slice(words, 2, greatest(size(words) - 1, 0)),
        |         (a, b) -> concat(a, ' ', b))""".stripMargin))
  }

  test("edges match the fold: empty, singleton, tie, null elements") {
    val df = Seq(
      Seq.empty[String],               // empty: ("", 0) seed survives
      Seq("a"),                        // singleton
      Seq("b", "a", "b", "a"),         // tie at 2 -> binary-smallest "a"
      Seq("x", "x", "x", "y")          // clear champion
    ).toDF("arr")
    pinEqual(df, col("arr"))

    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("arr",
      ArrayType(StringType, containsNull = true))))
    val withNulls = spark.createDataFrame(
      java.util.Arrays.asList(
        Row(Seq[Any]("a", null, "a", null)),  // nulls sort last, run resets
        Row(Seq[Any](null, null, null))),     // all-null
      schema)
    pinEqual(withNulls, col("arr"))
  }
}
