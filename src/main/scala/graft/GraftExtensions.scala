package graft

import org.apache.spark.sql.SparkSessionExtensions

/** SparkSessionExtensions hook: registers graft's native expressions
  * permanently in a session built with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` — the
  * deployment for a cluster whose SQL text names graft kernels. The
  * kernels come from the one table in [[graft.functions.Kernels]]; the
  * Scala operators build their Columns from that table directly and
  * need no registration.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    // hidden time partitioning: day-partition predicates derived from
    // event-time predicates (the per-session form is installed by
    // Tables.events via experimental.extraOptimizations)
    ext.injectOptimizerRule(_ => graft.plans.EventTimeDayPruning)
    // tenant/user/role DCL through plain spark.sql(...) — the
    // statements Spark has no grammar for; Spark-owned DDL (CREATE
    // DATABASE/TABLE, SHOW DATABASES, ...) falls through untouched
    ext.injectParser((_, parser) => new graft.admin.GraftAdminParser(parser))
    graft.functions.Kernels.inject(ext)
  }
}
