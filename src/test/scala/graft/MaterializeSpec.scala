package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.StorageLevel

import graft.analytics.{Materialize, ParActions}

/** [[Materialize]]: what a scope releases, what it leaves alone, and
  * the registry-wide lifetime contract (no entry leaves a block pinned
  * once its consumer's scope closes). */
class MaterializeSpec extends SparkSpec {
  import spark.implicits._

  private def frame(tag: Int): DataFrame =
    spark.range(0, 40 + tag).toDF("id").withColumn("tag", $"id" % (tag + 2))

  /** A [[Materialize.once]] frame's blocks are still held. */
  private def pinned(df: DataFrame): Boolean = {
    val id = df.queryExecution.analyzed.collectFirst {
      case r: LogicalRDD => r.rdd.id
    }.getOrElse(fail("not a checkpointed frame"))
    spark.sparkContext.getPersistentRDDs.contains(id)
  }

  private def cached(df: DataFrame): Boolean =
    df.storageLevel != StorageLevel.NONE

  test("a scope releases its frames on return and on a throw") {
    var made = Seq.empty[DataFrame]
    val n = Materialize.scoped {
      val a = Materialize.once(frame(1))
      val b = Materialize.shared(frame(2))
      made = Seq(a, b)
      assert(pinned(a) && cached(b))
      a.count() + b.count()
    }
    assert(n == 41 + 42)
    assert(!pinned(made(0)) && !cached(made(1)))
    val boom = intercept[IllegalStateException] {
      Materialize.scoped {
        made = Seq(Materialize.once(frame(3)), Materialize.shared(frame(4)))
        throw new IllegalStateException("entry failed")
      }
    }
    assert(boom.getMessage == "entry failed")
    assert(!pinned(made(0)) && !cached(made(1)))
  }

  test("a nested scope releases only its own frames") {
    Materialize.scoped {
      val outer = Materialize.once(frame(5))
      val outerShared = Materialize.shared(frame(6))
      val inner = Materialize.scoped {
        val i = Materialize.once(frame(7))
        assert(pinned(i))
        i
      }
      assert(!pinned(inner))
      assert(pinned(outer) && cached(outerShared))
      assert(outer.count() == 45 && outerShared.count() == 46)
    }
  }

  test("frames made in ParActions thunks are released by the caller's scope") {
    var made = Seq.empty[DataFrame]
    Materialize.scoped {
      val (a, b) = ParActions.both(
        () => Materialize.once(frame(8)),
        () => Materialize.shared(frame(9)))
      made = Seq(a, b)
      assert(pinned(a) && cached(b))
      assert(a.count() == 48 && b.count() == 49)
    }
    assert(!pinned(made(0)) && !cached(made(1)))
  }

  test("once is the identity on a checkpointed frame") {
    val ck = frame(10).localCheckpoint(true)
    try {
      Materialize.scoped(assert(Materialize.once(ck) eq ck))
      assert(pinned(ck), "a scope never releases a frame it did not make")
      // an RDD-backed frame that is not a checkpoint is copied
      val viaRdd = spark.createDataFrame(frame(11).rdd, frame(11).schema)
      Materialize.scoped(assert(!(Materialize.once(viaRdd) eq viaRdd)))
    } finally Materialize.release(ck)
    assert(!pinned(ck))
  }

  test("onceObserving returns the checkpoint and its metrics, zero rows included") {
    import org.apache.spark.sql.functions._
    Materialize.scoped {
      val (ck, m) = Materialize.onceObserving(frame(16),
        count(lit(1)).as("n"), sort_array(collect_set($"tag")).as("tags"))
      assert(pinned(ck))
      assert(m("n") == 56L && m("tags") == (0L until 18L).toSeq, s"$m")
      val (none, z) = Materialize.onceObserving(frame(17).filter($"id" < 0),
        count(lit(1)).as("n"), sum($"id").as("s"))
      assert(pinned(none) && none.isEmpty)
      assert(z("n") == 0L && z("s") == null, s"$z")
    }
  }

  test("onceObserving on a frame that is a checkpoint already still returns its metrics") {
    import org.apache.spark.sql.functions._
    val ck = frame(18).localCheckpoint(true)
    try {
      // no checkpoint job runs for it, so nothing would fill an
      // Observation: the metrics must come from an aggregate instead
      val (same, m) = Materialize.scoped(
        Materialize.onceObserving(ck, count(lit(1)).as("n")))
      assert(same eq ck)
      assert(m("n") == 58L, s"$m")
    } finally Materialize.release(ck)
  }

  test("shared never releases a frame the caller cached") {
    val mine = frame(12).persist()
    try {
      Materialize.scoped {
        assert(Materialize.shared(mine) eq mine)
        assert(mine.count() == 52)
      }
      assert(cached(mine))
    } finally mine.unpersist(true)
  }

  test("frames made with no scope open survive") {
    val a = Materialize.once(frame(13))
    val b = Materialize.shared(frame(14))
    try {
      Materialize.scoped(assert(frame(15).count() == 55))
      assert(pinned(a) && cached(b))
      assert(a.count() == 53 && b.count() == 54)
    } finally {
      Materialize.release(a)
      b.unpersist(true)
    }
  }

  test("every registry entry at sf0.001 leaves no persistent RDD or cached " +
       "relation once its scope closes") {
    val sc = spark.sparkContext
    val cacheManager = spark.sharedState.cacheManager
    // earlier specs in this JVM pin blocks with no scope open
    GraftSession.release(spark)
    val t0 = System.nanoTime()
    val results = SparkEntry.registry.map { q =>
      val outcome =
        try {
          Materialize.scoped {
            q.df(spark, sf0001).write.format("noop").mode("overwrite").save()
          }
          val rdds = sc.getPersistentRDDs.size
          if (rdds == 0 && cacheManager.isEmpty) None
          else Some(s"${q.name}: $rdds persistent RDDs, " +
            s"cached relations left: ${!cacheManager.isEmpty}")
        } catch {
          case e: Throwable => Some(s"${q.name}: failed: ${e.getMessage}")
        }
      // a leak is reported, then cleared, so the next entry is judged
      // on its own blocks
      if (outcome.isDefined) GraftSession.release(spark)
      outcome
    }
    info(f"${results.size} entries in ${(System.nanoTime() - t0) / 1e9}%.0f s")
    val leaks = results.flatten
    if (leaks.nonEmpty)
      fail(s"${leaks.size} entries leave blocks:\n" + leaks.mkString("\n"))
  }
}
