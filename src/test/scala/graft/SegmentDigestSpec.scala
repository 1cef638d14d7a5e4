package graft

import graft.api._
import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Every write tier stores the same rows under the same content
  * address and records the same value stats: the inline embed, the
  * driver tier's single chunk and the distributed job's single file
  * all go through one segment writer, so a frame written by any of
  * them dedupes against the others and prunes the same way. */
class SegmentDigestSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val schema = GSchema("ts" -> "int*", "v" -> "float", "n" -> "int")

  // 1000 rows in one input partition, descending (every tier sorts):
  // `v` carries NaNs (no bound), `n` a plain int column (stats + sum)
  private def rows() = spark.range(0, 1000, 1, 1).select(
    (lit(999L) - col("id")).as("ts"),
    when(col("id") % 97 === 5, lit(Double.NaN))
      .otherwise(col("id") * 0.25).as("v"),
    (col("id") * 3 - 100).as("n"))

  /** the recorded address of these rows, from the writer's digest
    * formula; a change to that formula must show up here */
  private val address =
    "seg/4c/e7/c712b5c8d8d0dfccf90132ce540d8e8d2044.parquet"

  test("write tiers agree on the content address and value stats") {
    val repo = new Repo(
      Files.createTempDirectory("graft-digest").toString, spark)
    val tiers = Seq[(String, Collection => Unit)](
      "inline" -> { c => c.embedMaxSize = 1L << 20; c.embedProbeRows = 4096 },
      "driver" -> { _ => () },
      "distributed" -> { _ => () })
    val metas = tiers.map { case (tier, setup) =>
      val c = repo.createCollection(schema, tier)
      setup(c)
      val s = c.series("_")
      if (tier == "distributed") {
        // an RDD-backed copy has no size estimate of its own (its
        // LogicalRDD reports spark.sql.defaultSizeInBytes), so the
        // driver tier cannot size it; one shuffle partition in the
        // frame's session makes the auto-sorted write one file
        val df = rows()
        val one = spark.newSession()
        one.conf.set("spark.sql.shuffle.partitions", "1")
        val (_, jobs, _) =
          TestSpark.work(s.write(one.createDataFrame(df.rdd, df.schema)))
        // probe, range sample and write job; the driver tier runs one
        assert(jobs >= 3, s"$tier: $jobs jobs")
      } else if (tier == "driver") {
        val (_, jobs, _) = TestSpark.work(s.write(rows()))
        assert(jobs == 1, s"$tier: $jobs jobs")
      } else s.write(rows())
      val segs = s.segments().filter(_.meta.hasData)
      assert(segs.length == 1, s"$tier: ${segs.map(_.meta)}")
      assert(s.frame().count() == 1000L, tier)
      tier -> segs.head.meta
    }.toMap

    assert(metas("inline").inline.isDefined && metas("inline").files.isEmpty)
    assert(metas("driver").files == Vector(address),
      s"driver tier: ${metas("driver").files}")
    assert(metas("distributed").files == Vector(address),
      s"distributed tier: ${metas("distributed").files}")

    val vstats = metas("inline").vstats
    assert(vstats == Some(Map("n" -> ((-100L, 2897L)))), s"$vstats")
    val vsums = metas("inline").vsums
    assert(vsums == Some(Map("n" -> (0L until 1000L).map(_ * 3 - 100).sum)),
      s"$vsums")
    metas.foreach { case (tier, m) =>
      assert(m.vstats == vstats, tier)
      assert(m.vsums == vsums, tier)
    }
  }
}
