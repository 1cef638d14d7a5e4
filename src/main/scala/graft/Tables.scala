package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-provided test tables under
  * /root/testdata/sf0.001 .. sf0.1, with the interop fixups needed for
  * DuckDB-oracle parity:
  *
  * - events.ts has shipped as parquet TIMESTAMP(NANOS) (which Spark 4
  *   refuses by default — read as Long via the legacy conf and
  *   integer-divided to µs) and as TIMESTAMP(MICROS) without UTC
  *   adjustment (TIMESTAMP_NTZ to Spark). `normalizeTs` maps either
  *   encoding to one canonical UTC TimestampType column, so queries
  *   never see the on-disk flavor.
  * - session timezone forced to UTC so timestamp rendering matches.
  */
object Tables {

  /** Explicit-parallelism width for REPARTITION hints: the session's
    * shuffle-partition setting, so CPU-spread hints scale with the
    * cluster configuration instead of hard-coding local[32]'s width.
    * Read at query-construction time (an active session always exists
    * there). */
  private[graft] def np: Int =
    org.apache.spark.sql.SparkSession.active.conf
      .get("spark.sql.shuffle.partitions", "32").toInt

  /** Estimated scan-task count for relation `name` under the active
    * session's split settings — FileSourceScanExec's own formula
    * (maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
    * totalBytes/minPartitionNum))) applied to the relation's
    * already-listed FileIndex, so it costs no extra listing and no
    * job. Conservative packing estimate: ceil(totalPaddedBytes /
    * maxSplitBytes). Views that do not bottom out in a file relation
    * (LogicalRDD checkpoints, in-memory fixtures) report 1 — the
    * can't-tell case keeps today's behavior (hint emitted). Nothing
    * is cached: each call re-analyzes the view, so a `registerAll`
    * that re-points a view name is seen by the next call. */
  private[graft] def scanTasks(spark: SparkSession, name: String): Int =
    try {
      val rels = spark.table(name).queryExecution.analyzed.collect {
        case l: org.apache.spark.sql.execution.datasources
            .LogicalRelation =>
          l.relation
      }.collect {
        case h: org.apache.spark.sql.execution.datasources
            .HadoopFsRelation => h
      }
      if (rels.isEmpty) 1
      else {
        val conf = spark.sessionState.conf
        val openCost = conf.filesOpenCostInBytes
        val minPN = conf.filesMinPartitionNum
          .getOrElse(spark.sparkContext.defaultParallelism)
        val nFiles = rels.map(_.location.inputFiles.length.toLong).sum
        val total = rels.map(_.location.sizeInBytes).sum +
          nFiles * openCost
        val maxSplit = math.min(conf.filesMaxPartitionBytes,
          math.max(openCost, total / math.max(1, minPN)))
        math.max(1L, (total + maxSplit - 1) / math.max(1L, maxSplit))
          .min(Int.MaxValue).toInt
      }
    } catch { case scala.util.control.NonFatal(_) => 1 }

  /** Scan-parallelism REPARTITION hint for CPU-heavy kernel
    * projections over raw `table` rows (text, embeddings): emitted
    * ONLY when the scan itself cannot feed the session width — on the
    * local one-file fixtures the whole kernel pass would otherwise
    * run inside a single scan task (guide §2.5 input skew). On a
    * many-file real corpus the scan has >= `np` input splits, the
    * hint disappears, and with it the full-corpus shuffle of raw
    * payloads it would force at 100 TB (guide §2.3: don't move bytes
    * you don't have to — a REPARTITION hint ALWAYS inserts its
    * exchange). `spark.graft.spreadHint` overrides the gate:
    * `always` / `never` force each side (plan-evidence + A/B knob),
    * default `auto`. */
  private[graft] def spread(table: String, keys: String = ""): String = {
    val spark = org.apache.spark.sql.SparkSession.active
    val mode = spark.conf.get("spark.graft.spreadHint", "auto")
    val need = mode match {
      case "always" => true
      case "never" => false
      case _ => scanTasks(spark, table) < np
    }
    if (!need) ""
    else s"/*+ REPARTITION($np${if (keys.isEmpty) "" else s", $keys"}) */"
  }

  def init(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  }

  /** Normalize an event-time column to UTC TimestampType regardless of
    * the parquet encoding it arrived in (NANOS-as-Long legacy read, or
    * TIMESTAMP_NTZ from an unadjusted MICROS file — with the session
    * pinned to UTC the NTZ cast is wall-clock-identical, matching
    * DuckDB's naive read of the same file).
    *
    * The Long branch div-1000s on the NANOS assumption; a plain INT64
    * epoch-micros column (no parquet logical type) would be silently
    * shifted 1000x, so the branch asserts the magnitude: nanos for any
    * date after ~2001 are >= 1e18, micros are < 4e17 until ~14687 CE —
    * the ranges cannot overlap for sane data, and an ambiguous drop
    * fails loudly instead of producing year-1970 timestamps. */
  private[graft] def normalizeTs(df: DataFrame, c: String): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema(c).dataType match {
      case LongType =>
        df.withColumn(c, expr(
          s"""timestamp_micros(CASE
             |  WHEN $c >= 1000000000000000000L OR $c <= 0 THEN $c div 1000
             |  ELSE raise_error(concat(
             |    'normalizeTs: Long $c value ', cast($c AS string),
             |    ' is ambiguous: below 1e18 it could be epoch-micros ',
             |    'INT64 (read it without the nanos legacy conf), ',
             |    'epoch-millis, or legitimate epoch-nanos before ',
             |    '~2001-09. This loader assumes the driver corpus ',
             |    '(2024 data, micros or nanos only); for older nanos ',
             |    'data normalize the column explicitly before ingest'))
             |END""".stripMargin))
      case TimestampNTZType =>
        df.withColumn(c, col(c).cast(TimestampType))
      case _ => df
    }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    init(spark)
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeTs(df, "ts") else df
  }

  /** memo key: registering 10 parquet views costs a schema-inference
    * job (a driver round-trip) per table — ~0.3-0.5 s per CALL, and
    * every query entry point calls registerAll. Idempotent per
    * (session, dir): re-registration only matters when the dir
    * changes. */
  // weak keys: identity hashes are address-derived and REUSED after a
  // session is GC'd — an Int-keyed memo could silently skip
  // registration for a brand-new session that inherited a dead
  // session's hash. The weak map drops entries with their session.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, String])

  /** Register all tables as temp views named like the files. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    if (registered.get(spark) != dir) {
      Seq("region", "nation", "customer", "supplier", "part", "orders",
        "lineitem", "events", "documents", "embeddings").foreach { n =>
        table(spark, dir, n).createOrReplaceTempView(n)
      }
      registered.put(spark, dir)
    }
  }
}
