package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** `lake_analytics`: a fixed set of graft's SQL and time-series lanes
  * over a generated lake, closed loop with one client. Each lane is
  * fully materialized to the noop sink. Read-only and small, so the
  * time goes to driver-side fixed costs; the admin, wire and stream
  * layers are idle.
  *
  * Set-up (repeated, each on a fresh copy of the lake so staged layouts
  * are rebuilt): a new session plus one warm-up pass over the lanes.
  * Timed load: whole passes in a seeded lane order until the window is
  * spent (at least one). Afterwards, untimed, every lane runs once more
  * into parquet for the DuckDB oracle check in run.py.
  */
object LakeAnalytics {
  def run(ctx: Ctx): Map[String, Any] = {
    val lanes = ctx.strs("lanes")
    val queries = graft.SparkEntry.queries
    val missing = lanes.filterNot(queries.contains)
    def lane(spark: SparkSession, dir: String, name: String, tag: String, counted: Boolean): Unit =
      ctx.op(spark, "lane", tag, counted) {
        queries.getOrElse(name, sys.error(s"lane $name is not in SparkEntry.queries"))(spark, dir)
          .write.format("noop").mode("overwrite").save()
      }

    val (spark, dir) = ctx.repeatSetup(ctx.int("setups")) { i =>
      val dir = copyLake(Path.of(ctx.str("lake")), ctx.dir(s"setup$i", "lake")).toString
      val s = ctx.newSession()
      lanes.foreach(n => lane(s, dir, n, s"setup:$n", counted = false))
      (s, dir)
    } { case (s, _) => ctx.stopSession(s) }
    ctx.ready(spark)

    val rnd = new scala.util.Random(ctx.seed)
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Long]]
    val t0 = System.nanoTime()
    while (passes.isEmpty || System.nanoTime() - t0 < ctx.seconds * 1e9) {
      val p = passes.size + 1
      val start = System.nanoTime()
      rnd.shuffle(lanes).foreach(n => lane(spark, dir, n, s"lane:$n:$p", counted = true))
      passes += Map("start" -> start, "end" -> System.nanoTime())
    }

    val checkDir = ctx.dir("check")
    lanes.foreach { n =>
      ctx.op(spark, "check", s"check:$n", counted = true) {
        queries(n)(spark, dir).write.parquet(checkDir.resolve(n).toString)
      }
    }
    val oracle = graft.SparkEntry.oracleSql.filter { case (k, _) => lanes.contains(k) }
    ctx.stopSession(spark)
    Map("passes" -> passes.toSeq, "missing_lanes" -> missing, "oracle_sql" -> oracle,
      "check_dir" -> checkDir.toString)
  }

  private def copyLake(from: Path, to: Path): Path = {
    val s = Files.list(from)
    try s.forEach(f => Files.copy(f, to.resolve(f.getFileName)))
    finally s.close()
    to
  }
}
