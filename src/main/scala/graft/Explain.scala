package graft

/** Plan-hygiene audit: prints the formatted physical plan of each
  * registry query (or the names passed as args) so scan pruning
  * (`PushedFilters`/`ReadSchema`), join strategy (broadcast vs SMJ),
  * top-k (`TakeOrderedAndProject`) and whole-stage-codegen spans can be
  * reviewed — the 100 TB design checklist from SURVEY.md §7.3.6.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = GraftSession("ERROR")
    SparkEntry.registry
      .filter(q => names.isEmpty || names.contains(q.name))
      .foreach { q =>
        println(s"\n===== ${q.name} =====")
        try q.df(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
