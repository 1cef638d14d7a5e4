package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the scale-gated spread hint (round 17, guide §2.3/§2.5): the
  * raw-payload REPARTITION must fire for a scan that cannot feed the
  * session's width (one small file), must DISAPPEAR when the scan
  * already has >= width input splits (a many-file corpus), and must
  * honor the explicit `spark.graft.spreadHint` override both ways.
  * TestSpark runs at shuffle.partitions=4, so "wide enough" is cheap
  * to synthesize.
  */
class SpreadHintSpec extends AnyFunSuite {
  private def spark = TestSpark.spark

  private def mkTable(view: String, files: Int): Unit = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"graft-spread-$view").toString
    spark.range(0, 4000, 1, files)
      .selectExpr("id AS doc_id", "repeat('x', 40) AS text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir).createOrReplaceTempView(view)
  }

  test("one-file scan gets the hint; many-split scan does not") {
    val s = spark
    mkTable("spread_one", 1)
    // split-count estimate ~ total(padded)/maxSplit: shrink the split
    // knobs so 8 real files estimate >= 4 splits without writing GBs
    s.conf.set("spark.sql.files.maxPartitionBytes", (32 * 1024).toString)
    s.conf.set("spark.sql.files.openCostInBytes", (16 * 1024).toString)
    try {
      mkTable("spread_many", 8)
      val hintOne = Tables.spread("spread_one")
      val hintMany = Tables.spread("spread_many")
      assert(hintOne.contains("REPARTITION("),
        s"one-file scan must keep the spread hint, got '$hintOne'")
      assert(hintMany.isEmpty,
        s"many-split scan must drop the raw-payload shuffle, got " +
          s"'$hintMany'")
      // keyed form carries the keys through
      assert(Tables.spread("spread_one", "doc_id")
        .matches(raw"/\*\+ REPARTITION\(\d+, doc_id\) \*/"))
    } finally {
      s.conf.unset("spark.sql.files.maxPartitionBytes")
      s.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("re-pointing a view name is seen by the next hint") {
    val s = spark
    s.conf.set("spark.sql.files.maxPartitionBytes", (32 * 1024).toString)
    s.conf.set("spark.sql.files.openCostInBytes", (16 * 1024).toString)
    try {
      mkTable("spread_repoint", 1)
      assert(Tables.spread("spread_repoint").contains("REPARTITION("))
      // same session, same name, now over the 8-file table
      mkTable("spread_repoint", 8)
      val hint = Tables.spread("spread_repoint")
      assert(hint.isEmpty,
        s"a re-pointed many-split view must drop the hint, got '$hint'")
    } finally {
      s.conf.unset("spark.sql.files.maxPartitionBytes")
      s.conf.unset("spark.sql.files.openCostInBytes")
    }
  }

  test("spark.graft.spreadHint override forces both sides") {
    val s = spark
    mkTable("spread_ovr", 1)
    try {
      s.conf.set("spark.graft.spreadHint", "never")
      assert(Tables.spread("spread_ovr").isEmpty)
      s.conf.set("spark.graft.spreadHint", "always")
      assert(Tables.spread("spread_ovr").contains("REPARTITION("))
    } finally s.conf.unset("spark.graft.spreadHint")
  }

  test("unknown relations keep today's behavior (hint emitted)") {
    val s = spark
    import s.implicits._
    // a LogicalRDD-backed view has no file relation to size up
    Seq((1L, "a"), (2L, "b")).toDF("doc_id", "text")
      .localCheckpoint(true).createOrReplaceTempView("spread_rdd")
    assert(Tables.spread("spread_rdd").contains("REPARTITION("))
  }
}
