package graft

import org.apache.spark.sql.{DataFrame => DataFrameLike}

/** Ad-hoc single-query profiler: run named [[SparkEntry.queries]]
  * entries repeatedly with wall-clock per rep, outside the full Bench
  * suite (no shared-intermediate warm state unless the query builds
  * it itself).
  *
  * Run: `sbt "runMain graft.Profile q188_sql_update 3"` — optionally
  * `SPARK_GRAFT_SF_DIR` to pick the scale (default sf0.1). Per-job,
  * per-stage and per-SQL-execution attribution comes from Spark's own
  * surfaces: `SPARK_GRAFT_EVENTLOG=true` (see [[Bench]]) or the UI.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val names = args.filterNot(_.forall(_.isDigit)).toSeq
    val reps = args.find(_.forall(_.isDigit)).map(_.toInt).getOrElse(3)
    val sfDir =
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.buildSession(cpus)
    spark.range(1000000L).selectExpr("sum(id)").collect()
    Tables.registerAll(spark, sfDir)
    // the bench-only text-slope rows are profilable too (same views +
    // statements as Bench.main — see Bench.textSlopeViews)
    lazy val slopeReady = {
      graft.functions.VectorFunctions.register(spark)
      Bench.textSlopeViews(spark); true
    }
    val slopeRows: Map[String, () => DataFrameLike] = Map(
      "text_terms_1x" -> (() => spark.sql(Bench.termsSlopeSql("documents_1x"))),
      "text_terms_10x" -> (() => spark.sql(Bench.termsSlopeSql("documents_10x"))),
      "text_lsh_1x" -> (() => spark.sql(Bench.lshSlopeSql("documents_1x"))),
      "text_lsh_10x" -> (() => spark.sql(Bench.lshSlopeSql("documents_10x"))))
    for (name <- names) {
      val fn: () => DataFrameLike = slopeRows.get(name) match {
        case Some(f) => val _ = slopeReady; f
        case None => () => SparkEntry.queries(name)(spark, sfDir)
      }
      for (i <- 1 to reps) {
        val t0 = System.nanoTime()
        val n = fn().collect().length
        val ms = (System.nanoTime() - t0) / 1e6
        System.err.println(f"[profile] $name rep $i: $ms%.0f ms ($n rows)")
      }
    }
    spark.stop()
  }
}
