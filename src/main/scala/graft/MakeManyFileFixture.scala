package graft

/** Evidence tool for the gated spread hint (round 17): builds a COPY
  * of a test-data dir whose documents/embeddings/events tables are
  * split into many parquet part files (64 each), so the scan itself
  * has >= cores input splits — the configuration under which
  * [[Tables.spread]] must NOT emit its raw-payload REPARTITION.
  * Run: `sbt "runMain graft.MakeManyFileFixture <srcDir> <outDir>"`,
  * then PlanDump with SPARK_GRAFT_SF_DIR=<outDir> to capture the
  * exchange-absent plans. Not part of any timed or verified path.
  */
object MakeManyFileFixture {
  def main(args: Array[String]): Unit = {
    if (args.length != 2) {
      System.err.println(
        "usage: graft.MakeManyFileFixture <srcDir> <outDir>")
      sys.exit(2)
    }
    val Array(src, out) = args
    val spark = Bench.buildSession(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val split = Set("documents", "embeddings", "events")
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings").foreach { n =>
      val srcP = java.nio.file.Paths.get(src, s"$n.parquet")
      val dstP = java.nio.file.Paths.get(out, s"$n.parquet")
      if (split(n))
        spark.read.parquet(srcP.toString).repartition(64)
          .write.mode("overwrite").parquet(dstP.toString)
      else if (!java.nio.file.Files.exists(dstP))
        copyTree(srcP, dstP)
    }
    spark.stop()
  }

  /** copy a table as it is: a single parquet file, or a directory of
    * part files (Files.copy alone would copy only the empty directory) */
  private def copyTree(src: java.nio.file.Path,
      dst: java.nio.file.Path): Unit = {
    val all = java.nio.file.Files.walk(src)
    try all.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (java.nio.file.Files.isDirectory(p))
        java.nio.file.Files.createDirectories(t)
      else java.nio.file.Files.copy(p, t)
    } finally all.close()
  }
}
