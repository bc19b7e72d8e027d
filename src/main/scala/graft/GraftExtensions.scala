package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions entry point: makes every native function of
  * [[graft.functions.Natives]] available to ANY session (including
  * pure-SQL users) via
  *
  * {{{
  *   spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * Sessions built without the config get the same list from
  * `Natives.register(spark)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    graft.functions.Natives.inject(ext)
}
