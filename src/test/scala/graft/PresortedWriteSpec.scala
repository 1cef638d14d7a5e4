package graft

import graft.api._
import graft.core._
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** The presorted bulk-write contract: `write(df, presorted = true)`
  * skips the range sample + shuffle + sort (the reference's own
  * precondition — lakota raises on unsorted frames) but VERIFIES the
  * declaration: per-row order in every task, file-range disjointness
  * at seal. A wrong declaration must abort loudly before anything
  * commits; a right one must be byte-for-byte equivalent to the
  * auto-sorted write (same content digests → shared segments).
  */
class PresortedWriteSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def freshRepo(): Repo =
    new Repo(Files.createTempDirectory("graft-presort").toString, spark)

  /** pin the DISTRIBUTED write path: the driver tier would otherwise
    * absorb these sub-page frames and verify on the driver instead. An
    * RDD-backed copy (same partitions) has no size estimate of its own
    * (its LogicalRDD reports spark.sql.defaultSizeInBytes), so the
    * driver tier cannot size it and never collects it. */
  private def distributedOnly(df: DataFrame): DataFrame =
    spark.createDataFrame(df.rdd, df.schema)

  private val schema = GSchema("ts" -> "int*", "value" -> "float")

  // 40k rows over 4 partitions: range partitions are contiguous, so
  // the frame is globally sorted with disjoint per-partition ranges —
  // and big enough to bypass the driver-local small-write probe.
  private def sortedFrame() = {
    import spark.implicits._
    val _ = spark // touch lazy init
    spark.range(0, 40000, 1, 4)
      .select($"id".as("ts"), sin($"id".cast("double")).as("value"))
  }

  test("presorted write round-trips and matches the sorted write") {
    val repo = freshRepo()
    val a = repo.createCollection(schema, "a").series("_")
    a.write(distributedOnly(sortedFrame()), presorted = true)
    assert(a.frame().count() == 40000L)
    // the distributed job wrote one file per input partition (the
    // driver tier would have written one for the whole frame)
    assert(a.segments().map(_.meta.files.length).sum == 4)
    val got = a.frame(1000L, 1004L, closed = Closed.Both)
      .select("ts").collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(got == Seq(1000L, 1001L, 1002L, 1003L, 1004L))

    // identical content + identical splits → identical per-file
    // digests, so a second presorted write of the same frame dedupes
    // against the first write's segment files in the store
    val b = repo.createCollection(schema, "b").series("_")
    b.write(distributedOnly(sortedFrame()), presorted = true)
    val filesA = a.segments().flatMap(_.meta.files).toSet
    val filesB = b.segments().flatMap(_.meta.files).toSet
    assert(filesA == filesB,
      s"identical presorted writes should share content-addressed " +
        s"segments:\n$filesA\nvs\n$filesB")

    // the auto-sort path must agree on CONTENT (file splits may
    // differ, so addresses may differ — the digest is per file)
    val c = repo.createCollection(schema, "cc").series("_")
    c.write(distributedOnly(sortedFrame()))
    val av = a.frame()
    val cv = c.frame()
    assert(av.exceptAll(cv).isEmpty && cv.exceptAll(av).isEmpty)
  }

  test("unsorted rows inside a partition fail loudly") {
    val repo = freshRepo()
    val s = repo.createCollection(schema, "bad1").series("_")
    import spark.implicits._
    // descending ts within each partition
    val df = spark.range(0, 40000, 1, 2)
      .select((lit(50000L) - $"id").as("ts"),
        lit(1.0).as("value"))
    val e = intercept[org.apache.spark.SparkException] {
      s.write(distributedOnly(df), presorted = true)
    }
    assert(e.getMessage.contains("unsorted") ||
      Option(e.getCause).exists(_.getMessage.contains("unsorted")))
    assert(s.collection.manifest().isEmpty ||
      s.segments().isEmpty) // nothing committed
    assert(repo.store.ls("tmp").isEmpty,
      s"failed write leaked staged files: ${repo.store.walk("tmp")}")
  }

  test("driver-tier small write verifies the presorted declaration") {
    val repo = freshRepo()
    val s = repo.createCollection(schema, "bad3").series("_")
    import spark.implicits._
    val df = spark.range(0, 40000, 1, 2)
      .select((lit(50000L) - $"id").as("ts"), lit(1.0).as("value"))
    // same unsorted frame, driver tier enabled (the default): the
    // declaration must still be rejected, just without a Spark job
    val e = intercept[IllegalArgumentException] {
      s.write(df, presorted = true)
    }
    assert(e.getMessage.contains("unsorted"))
    assert(s.collection.manifest().isEmpty || s.segments().isEmpty)
    // and a correct declaration round-trips through the driver tier
    // as one segment file
    s.write(sortedFrame(), presorted = true)
    assert(s.frame().count() == 40000L)
    val segs = s.segments()
    assert(segs.map(m => (m.meta.length, m.meta.files.length)) ==
      Seq((40000L, 1)), s"${segs.map(_.meta)}")
  }

  test("overlapping partition ranges fail loudly at seal") {
    val repo = freshRepo()
    val s = repo.createCollection(schema, "bad2").series("_")
    import spark.implicits._
    // each partition is internally sorted 0..19999, but both cover
    // the SAME key range → disjointness check must reject
    val df = spark.range(0, 40000, 1, 2)
      .select(($"id" % 20000L).as("ts"), lit(1.0).as("value"))
    val e = intercept[IllegalArgumentException] {
      s.write(distributedOnly(df), presorted = true)
    }
    assert(e.getMessage.contains("overlapping"))
    assert(s.collection.manifest().isEmpty || s.segments().isEmpty)
  }

  test("kv upsert ignores the presorted flag and still merges") {
    val repo = freshRepo()
    val c = repo.createCollection(
      GSchema(Seq(ColDef("ts", GType.IntT, idx = true),
        ColDef("value", GType.FloatT, idx = false)), kv = true), "kv")
    val s = c.series("_")
    import spark.implicits._
    s.write(Seq((1L, 1.0), (2L, 2.0)).toDF("ts", "value"))
    s.write(Seq((2L, 20.0), (3L, 3.0)).toDF("ts", "value"))
    val got = s.frame().collect().map(r => (r.getLong(0), r.getDouble(1)))
      .toSeq.sorted
    assert(got == Seq((1L, 1.0), (2L, 20.0), (3L, 3.0)))
  }
}
