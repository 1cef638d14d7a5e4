package graft.api

import graft.core._
import graft.engine.SparkVals
import graft.sources.GraftPlanning
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** A labeled, versioned, sorted series inside a [[Collection]].
  *
  * Write path: sort + range-partition to ~pageLen-row parquet segments,
  * content-address them, splice rows into the leaf manifest, append a
  * changelog revision. Read path: resolve snapshot manifest, prune
  * segments by index interval, then one columnar scan that slices each
  * clipped segment by bisecting its sorted index.
  *
  * Behavioral reference: lakota/series.py (write 82-157, frame 314-338,
  * tail 261-312, update 159-190, delete 227-229).
  */
class Series(val collection: Collection, val label: String) {
  import collection.{repo, schema, changelog}
  private def spark: SparkSession = repo.spark
  private def store: Store = repo.store

  protected def idxCols: Seq[Column] = schema.idxNames.map(col)

  /** rows per segment parquet file (reference page_len=500_000) */
  def pageLen: Long = collection.pageLen

  // ------------------------------------------------------------------
  // bounds helpers
  // ------------------------------------------------------------------

  /** Parse user bound (scalars or Seq of scalars) to an IndexKey. */
  def boundKey(v: Any): IndexKey = v match {
    case null => null
    case k: IndexKey => k
    case s: Seq[_] =>
      IndexKey(s.zip(schema.idx).map { case (x, c) =>
        SparkVals.parseBound(c.dtype, x) }.toVector)
    case scalar =>
      IndexKey(Vector(SparkVals.parseBound(schema.idx.head.dtype, scalar)))
  }

  private def keyOf(r: Row, off: Int = 0): IndexKey =
    IndexKey(schema.idx.zipWithIndex.map { case (c, i) =>
      SparkVals.toKernel(c.dtype, r.get(off + i)) }.toVector)

  // ------------------------------------------------------------------
  // write path
  // ------------------------------------------------------------------

  /** Cast an arbitrary DataFrame to the collection schema (column
    * order + dtypes), mirroring the reference's auto-cast on ingest. */
  def cast(df: DataFrame): DataFrame =
    df.select(schema.cols.map(c =>
      col(c.name).cast(c.dtype.sparkType).as(c.name)): _*)

  /** Rows of an already-LOCAL input, without any Spark query: a
    * `createDataFrame`-on-collected-rows frame (the fragmentation /
    * tiny-commit workload) is a LocalRelation whose rows sit in the
    * analyzed plan. When its schema already matches the collection
    * (names + dtypes in order, the common case for an ingest loop),
    * the small-write probe needs no per-write analyze / optimize /
    * codegen / execute cycle — profiled as the dominant ~25 ms of a
    * 37 ms metadata-only commit. Any mismatch falls back to the
    * ordinary cast + bounded-probe path. */
  private def localInputRows(df: DataFrame): Option[Array[Row]] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation
          if lr.data.length <= collection.embedProbeRows &&
            lr.output.length == schema.sparkSchema.length &&
            lr.output.zip(schema.sparkSchema.fields).forall {
              case (a, f) => a.name == f.name && a.dataType == f.dataType
            } =>
        val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
          .createToScalaConverter(lr.schema)
        Some(lr.data.map(ir => conv(ir).asInstanceOf[Row]).toArray)
      case _ => None
    }

  /** `presorted = true` declares the input already globally sorted on
    * the index: partitions hold disjoint key ranges, each internally
    * sorted — the reference's own write PREcondition (lakota raises
    * on unsorted frames; this engine's default path auto-sorts as a
    * superset). The declaration is trusted but VERIFIED: every task
    * checks row order as it writes and [[sealSegments]] rejects
    * overlapping file ranges, so a wrong declaration aborts before
    * anything commits. What it buys at scale: no range-sample pass,
    * no shuffle, no sort — an ingest that is already bucketed/sorted
    * upstream (Kafka by time, an upstream sorted export) streams
    * straight from its partitions into segment files. */
  def write(df: DataFrame, start: Any = null, stop: Any = null,
      closed: Closed = Closed.Both, root: Boolean = false,
      presorted: Boolean = false): Unit = {
    val startK = boundKey(start)
    val stopK = boundKey(stop)

    // small-write fast paths. A bounded probe (driver-local rows when
    // the input is a schema-matching LocalRelation; otherwise a
    // CollectLimit, which evaluates partitions incrementally) detects
    // frames that fit on the driver:
    //  - under embedMaxSize serialized bytes -> rows embed straight in
    //    the manifest (reference embed_max_size): no file, no Spark job;
    //  - otherwise -> one driver-sorted single-file segment: two tiny
    //    in-memory jobs instead of the sampling+shuffle sort, the write
    //    commit and the full stats re-scan. The fragmentation workload
    //    (reference bench_fragmentation.py) lives entirely here.
    val data = cast(df)
    if (collection.embedProbeRows > 0) {
      // tiny-frame handling shared by every probe below: manifest
      // embed, else one driver-local file, else a tombstone. Inline
      // vectors carry only non-default source columns, so a write's
      // explicit values for clone-added columns would be silently
      // replaced by the default at read — collections with additions
      // take the (value-preserving) small-file path instead.
      def tinyWrite(probe: Array[Row]): Unit = {
        if (collection.embedMaxSize > 0 && collection.defaults.isEmpty &&
            writeInline(probe, startK, stopK, closed, root)) ()
        else if (probe.nonEmpty) {
          val toCatalyst = org.apache.spark.sql.catalyst
            .CatalystTypeConverters
            .createToCatalystConverter(schema.sparkSchema)
          // NOT verifySorted: the probe collect flattens partitions in
          // pid order, and the presorted contract is per-partition
          // order + range disjointness, not pid order — sorting a
          // <=256-row frame costs nothing and accepts every valid
          // declaration the distributed tier accepts
          writeSmallRows(Array(probe.map(r => toCatalyst(r)
            .asInstanceOf[org.apache.spark.sql.catalyst.InternalRow])),
            startK, stopK, closed, root, verifySorted = false)
        } else {
          // empty frame: tombstone (same contract as the parquet path)
          require(startK != null && stopK != null,
            "empty write needs explicit start/stop bounds")
          commitRows(Seq(SegmentMeta(label, startK, stopK, closed, 0L,
            Vector.empty)), root)
        }
      }

      // DRIVER-TIER gate: a frame of at most one page (≤ pageLen rows)
      // pays Spark's per-job scheduling floor twice on the distributed
      // path (sample + write) for work one thread finishes in tens of
      // ms — the reference's bulk_write-at-100k regime — and lands as
      // one segment file here, lakota's write unit. Gate on the
      // OPTIMIZER'S size estimate so big inputs never pay a wasted
      // probe: only plans estimated under DriverWriteBytes (cached
      // relations report measured cache size, file scans their on-disk
      // bytes) are probed — with ONE collect job of InternalRows that
      // subsumes the tiny probe. Both tiers write through
      // SegmentWriter.TaskSegmentWriter, so content addresses still
      // dedupe across them. At cluster scale this is strictly the right
      // trade: a sub-page write was never parallel work.
      val sizeGated = pageLen > collection.embedProbeRows && {
        val estBytes =
          try data.queryExecution.optimizedPlan.stats.sizeInBytes
          catch { case scala.util.control.NonFatal(_) =>
            BigInt(Long.MaxValue) }
        estBytes <= Series.DriverWriteBytes
      }

      val probeOpt: Option[Array[Row]] = localInputRows(df).orElse {
        if (sizeGated) None // the driver tier's one collect covers it
        else {
          val probeLimit = collection.embedProbeRows + 1
          val probe = data.limit(probeLimit).collect()
          if (probe.length < probeLimit) Some(probe) else None
        }
      }
      probeOpt.foreach { probe => tinyWrite(probe); return }

      if (sizeGated) {
        // Collect INTERNAL rows (no external-Row round trip) in ONE
        // job over every partition, each capped at pageLen+1 —
        // CollectLimit's incremental partition escalation costs 3-4
        // job round-trips here (it expects to stop early; this path
        // expects to take everything), and the size gate already
        // bounds the data. A misestimate falls through to the
        // distributed path below, cost bounded by the per-partition
        // cap.
        val cap = math.min(pageLen, Int.MaxValue - 1L).toInt + 1
        val rdd = data.queryExecution.toRdd
        val parts = Array.fill(math.max(rdd.getNumPartitions, 1))(
          Array.empty[org.apache.spark.sql.catalyst.InternalRow])
        if (rdd.getNumPartitions > 0)
          spark.sparkContext.runJob(rdd,
            (_: org.apache.spark.TaskContext,
                it: Iterator[org.apache.spark.sql.catalyst.InternalRow]) =>
              it.take(cap).map(_.copy()).toArray,
            0 until rdd.getNumPartitions,
            (pid: Int,
                res: Array[org.apache.spark.sql.catalyst.InternalRow]) =>
              parts(pid) = res)
        val irows = parts.flatten
        if (irows.length <= collection.embedProbeRows) {
          // tiny after all — rejoin the embed/inline path
          val conv = org.apache.spark.sql.catalyst.CatalystTypeConverters
            .createToScalaConverter(schema.sparkSchema)
          tinyWrite(irows.map(ir => conv(ir).asInstanceOf[Row]))
          return
        }
        if (irows.length <= pageLen) {
          writeSmallRows(parts, startK, stopK, closed, root, presorted)
          return
        }
        // estimate was low and the frame overflowed the cap: fall
        // through to the distributed path (cost bounded by maxBytes)
      }
    }

    // Global sort via range partitioning with an EXPLICIT partition
    // count: an unpinned repartitionByRange is fair game for AQE
    // partition coalescing, which sizes post-shuffle partitions for
    // shuffle-READ efficiency (~64 MB advisory) — but this shuffle's
    // consumer is the CPU-heavy parquet+zstd encode, where coalescing
    // to a handful of tasks serializes the write (measured
    // 0.77 s -> 3.4 s on the 5M-row sort write when the session
    // enables advisory-size coalescing). REPARTITION_BY_NUM pins the
    // width; SegmentWriter.writeJob still rolls files at pageLen
    // rows. The width itself is the session's shuffle parallelism
    // CAPPED by an input-size estimate (round 17, ADVICE): a write
    // just over the ~32 MB driver gate must not fan out to a
    // production session's thousands of shuffle partitions — one
    // near-empty segment file per task. ceil(est/WriteTaskBytes)
    // keeps small writes at a sane file count while a 2 MB-per-task
    // target can never re-create the serialized-encode failure the
    // pin exists to prevent (4 MB measured a 15-30% encode-width
    // loss on the 5M-row bench sort — the cap should only bite
    // writes well under the benched regime). numShufflePartitions comes from the
    // FRAME's session state (already parsed — a conf string like
    // "auto" on some platforms would NumberFormatException, and the
    // repo session can disagree with the frame's in multi-session
    // use). Columns are stored under their PHYSICAL names (see
    // Collection.physOf) so post-clone writes stay uniform with
    // shared pre-clone segments.
    val sorted =
      (if (presorted) data
       else {
         val maxW =
           data.sparkSession.sessionState.conf.numShufflePartitions
         val estBytes =
           try data.queryExecution.optimizedPlan.stats.sizeInBytes
           catch { case scala.util.control.NonFatal(_) =>
             BigInt(Long.MaxValue) }
         val target = Series.WriteTaskBytes
         val width = ((estBytes + target - 1) / target)
           .min(BigInt(math.max(1, maxW))).max(BigInt(1)).toInt
         data.repartitionByRange(width, idxCols: _*)
           .sortWithinPartitions(idxCols: _*)
       })
        .select(schema.cols.map(c =>
          col(c.name).as(collection.physOf(c.name))): _*)

    // ONE distributed job: every task writes its ~pageLen-row files
    // (engine parquet format: INT64-micros timestamps, v2 pages —
    // see graft.core.SegmentWriter) and returns that file's
    // (cnt, min, max, content hash) inline, so the write needs no
    // read-back scan, no footer probe, and no global Observation.
    // Emptiness falls out of it: zero stat rows = empty write. A
    // rejected presorted declaration (in-task, or an overlap at seal)
    // leaves no staged file behind.
    val rows = collection.staged(verifySorted = presorted) { p =>
      val stats = SegmentWriter.writeJob(sorted, p).map(_._2)
      if (stats.isEmpty) Seq.empty
      else sealSegments(stats, startK, stopK, closed)
    }
    if (rows.isEmpty) {
      require(startK != null && stopK != null,
        "empty write needs explicit start/stop bounds")
      commitRows(Seq(SegmentMeta(label, startK, stopK, closed, 0L,
        Vector.empty)), root)
    } else commitRows(rows, root)
  }

  /** Per-file write stats → sorted, content-addressed segment rows
    * for THIS series: each staged file is moved (or deduplicated)
    * into the segment store and covered by a contiguous manifest row.
    * Shared by the single-series write and
    * [[Collection.ingestGrouped]]'s one-pass multi-series ingest. */
  private[api] def sealSegments(
      stats0: Seq[graft.core.SegmentWriter.FileStat], startK: IndexKey,
      stopK: IndexKey, closed: Closed): Seq[SegmentMeta] = {
    val stats = stats0.sortBy(s => s.min)(Ordering.fromLessThan((a, b) =>
      schema.cmpKey(a, b) < 0))
    // files must cover DISJOINT key ranges (a shared boundary key is
    // fine — the straddle logic below closes both sides on it). The
    // auto-sort path guarantees this by construction; a presorted
    // write's declaration is verified here, before anything commits.
    stats.sliding(2).foreach {
      case Seq(a, b) => require(schema.cmpKey(a.max, b.min) <= 0,
        s"overlapping staged files: [${a.min},${a.max}] vs " +
          s"[${b.min},${b.max}] — input was not globally sorted")
      case _ => ()
    }

    // content-address each part file into the segment store. One
    // writer, SegmentWriter.TaskSegmentWriter, computes every staged
    // file's `hash` (the driver tier's file, the bulk job, the grouped
    // ingest and the DataSourceV2 writers alike) as the
    // order-insensitive sum(pmod(xxhash64(cols), 2^31-1)) over THAT
    // FILE's rows, so the digest identifies the file's actual
    // interior — identical content dedupes across paths and writes,
    // and two files whose index stats tie but whose rows differ
    // (duplicate index keys straddling a split boundary) can never
    // alias in the store.
    val files = stats.map { st =>
      val digest = Hash.sha1(
        s"${schema.serialize}|${st.cnt}|${st.hash}|${st.min}|${st.max}"
          .getBytes("UTF-8"))
      val target = s"seg/${Hash.hashedPath(digest)}.parquet"
      if (store.exists(target)) store.rm(st.tmp)
      else store.mv(st.tmp, target)
      target
    }

    // segment rows: contiguous cover of [start|min, stop|max]. Interior
    // boundaries sit at the next file's min key, right-open — except
    // when a duplicated index key straddles a file split, where both
    // sides must stay closed on the shared point (each file only
    // returns its own rows, so no double-read).
    val k = stats.length
    (0 until k).map { i =>
      val rowStart =
        if (i == 0) Option(startK).getOrElse(stats(0).min)
        else stats(i).min
      val rowStop =
        if (i == k - 1) Option(stopK).getOrElse(stats(k - 1).max)
        else stats(i + 1).min
      val straddles = i < k - 1 &&
        schema.cmpKey(stats(i).max, stats(i + 1).min) == 0
      val cl = Closed.Both
        .setLeft(if (i == 0) closed.left else true)
        .setRight(if (i == k - 1) closed.right else straddles)
      SegmentMeta(label, rowStart, rowStop, cl, stats(i).cnt,
        Vector(files(i)), Some(stats(i).min), Some(stats(i).max),
        vstats = if (stats(i).vstats.nonEmpty) Some(stats(i).vstats)
          else None,
        vsums = if (stats(i).vsums.nonEmpty) Some(stats(i).vsums)
          else None)
    }
  }

  /** Commit staged files written OUTSIDE a Series-run job — the
    * DataSourceV2 BatchWrite's driver-side commit: its tasks produced
    * the same per-file stats the bulk job returns, so sealing +
    * manifest splice is identical from here on. `truncate = true`
    * (SQL overwrite mode) replaces THIS series' rows in one commit;
    * other series and all history stay intact. */
  private[graft] def commitStaged(
      stats: Seq[graft.core.SegmentWriter.FileStat],
      truncate: Boolean): Unit = {
    if (stats.isEmpty) {
      // empty append is a no-op; empty overwrite clears the series
      if (truncate) collection.truncateWrite(label, Seq.empty)
      return
    }
    val rows = sealSegments(stats, null, null, Closed.Both)
    if (truncate) collection.truncateWrite(label, rows)
    else commitRows(rows, root = false)
  }

  /** Copy-on-write replace for SQL row-level operations
    * (UPDATE / MERGE / rewrite-DELETE): atomically substitute the
    * scanned visible windows (`ranges`) with the staged files. Each
    * replaced window becomes ONE splice — its files re-sealed as a
    * contiguous cover stretched to the window's own bounds (so rows a
    * DELETE removed at the edges stay deleted), or a bare tombstone
    * when the rewrite emptied it. Files that land OUTSIDE every
    * window (rows whose index an UPDATE moved, or MERGE-inserted
    * rows) splice into free index space only: landing on a visible
    * segment that was NOT part of the scan would clobber rows the
    * operation never read, so that commit is refused. The task-side
    * writer rolls at region boundaries ([[graft.core.RangeRegions]]),
    * making per-file region assignment exact. One changelog commit
    * for the whole operation; history stays readable. */
  private[graft] def commitReplace(
      stats: Seq[graft.core.SegmentWriter.FileStat],
      ranges0: Seq[(IndexKey, IndexKey, Closed)]): Unit = {
    val ranges = ranges0.sortWith((a, b) => schema.cmpKey(a._1, b._1) < 0)
    if (ranges.isEmpty && stats.isEmpty) return
    val regions = new graft.core.RangeRegions(schema, ranges.toIndexedSeq)
    val byRegion = stats.groupBy { st =>
      val r = regions.regionOf(st.min)
      require(regions.regionOf(st.max) == r,
        s"staged file straddles a replaced-range boundary " +
          s"([${st.min}, ${st.max}]) — writer rolling failed")
      r
    }
    // gap files (rows outside every replaced window — MERGE inserts,
    // relocated index keys; with zero matched groups, every file) may
    // only land on FREE index space: any overlap with a visible
    // segment outside the replaced set means the operation is about
    // to clobber rows it never read — refuse loudly. Each gap file
    // then splices INDIVIDUALLY over its own [min, max]: a combined
    // cover could span an untouched segment sitting between two
    // inserts inside the same gap.
    val gapGroups = byRegion.filter(_._1 < 0)
    if (gapGroups.nonEmpty) {
      val untouched = segments().filter(_.meta.hasData).filterNot(s =>
        ranges.exists(r => schema.cmpKey(r._1, s.start) == 0 &&
          schema.cmpKey(r._2, s.stop) == 0))
      gapGroups.values.flatten.foreach { st =>
        untouched.foreach { s =>
          val c1 = schema.cmpKey(st.max, s.start)
          val c2 = schema.cmpKey(st.min, s.stop)
          val overlaps = (c1 > 0 || (c1 == 0 && s.closed.left)) &&
            (c2 < 0 || (c2 == 0 && s.closed.right))
          require(!overlaps,
            s"row-level operation moved rows onto occupied index " +
              s"space [${st.min}, ${st.max}] outside the scanned " +
              s"groups (UPDATE/MERGE may not relocate rows onto " +
              s"existing data it did not read)")
        }
      }
    }
    collection.multi {
      ranges.zipWithIndex.foreach { case ((a, b, cl), i) =>
        byRegion.get(i) match {
          case Some(sts) => commitRows(sealSegments(sts, a, b, cl),
            root = false)
          case None => commitRows(Seq(SegmentMeta(label, a, b, cl, 0L,
            Vector.empty)), root = false)
        }
      }
      gapGroups.toSeq.sortBy(_._1).foreach { case (_, sts) =>
        sts.sortWith((x, y) => schema.cmpKey(x.min, y.min) < 0)
          .foreach { st =>
            commitRows(sealSegments(Seq(st), null, null, Closed.Both),
              root = false)
          }
      }
    }
  }

  /** Embed a collected tiny frame in the manifest if it fits under
    * collection.embedMaxSize serialized bytes; returns false to fall
    * back to the parquet path. Empty frames commit a tombstone row
    * (same contract as the parquet path). */
  private def writeInline(probe: Array[Row], startK: IndexKey,
      stopK: IndexKey, closed: Closed, root: Boolean): Boolean = {
    if (probe.isEmpty) {
      require(startK != null && stopK != null,
        "empty write needs explicit start/stop bounds")
      commitRows(Seq(SegmentMeta(label, startK, stopK, closed, 0L,
        Vector.empty)), root)
      return true
    }
    inlineSegment(probe.toSeq, startK, stopK, closed) match {
      case Some(row) => commitRows(Seq(row), root); true
      case None => false
    }
  }

  /** The manifest-embedded segment row for non-empty `rows`, or None
    * when they serialize over collection.embedMaxSize bytes. */
  private[api] def inlineSegment(rows: Seq[Row], startK: IndexKey,
      stopK: IndexKey, closed: Closed): Option[SegmentMeta] = {
    // embed only the non-default (source) columns, matching the file
    // path where added default columns are synthesized at read time;
    // nulls in non-index columns pass through
    val srcIdx = schema.cols.zipWithIndex
      .filterNot { case (c, _) => collection.defaults.contains(c.name) }
    val idxPos = srcIdx.zipWithIndex
      .collect { case ((c, _), j) if c.idx => j }
    val kernelRows = rows.map(r =>
      srcIdx.map { case (c, i) =>
        if (r.isNullAt(i)) {
          if (c.idx) throw new IllegalArgumentException(
            s"null value in index column '${c.name}' — index " +
              "columns must be non-null")
          null
        } else SparkVals.toKernel(c.dtype, r.get(i)) }.toVector)
    def keyOfRow(v: Vector[Any]): IndexKey = IndexKey(idxPos.map(v).toVector)
    val sortedRows = kernelRows.sortWith((a, b) =>
      schema.cmpKey(keyOfRow(a), keyOfRow(b)) < 0).toVector
    val approxBytes = sortedRows.iterator
      .map(_.map(Json.scalar).map(_.length + 1).sum).sum
    if (approxBytes > collection.embedMaxSize) return None
    val mn = keyOfRow(sortedRows.head)
    val mx = keyOfRow(sortedRows.last)
    // inline rows are already kernel scalars on the driver — record
    // the same value stats/sums the file tiers do (skipping + the
    // metadata sum pushdown then cover fragmented tiny-write series)
    val valCols = srcIdx.zipWithIndex
      .collect { case ((c, _), j) if !c.idx => (c, j) }
    val vals = new SegmentWriter.ValueStats(
      valCols.map(_._1.dtype).toIndexedSeq,
      valCols.map(c => collection.physOf(c._1.name)).toIndexedSeq)
    sortedRows.foreach(r =>
      valCols.indices.foreach(k => vals.observe(k, r(valCols(k)._2))))
    val vstats = vals.stats
    val vsums = vals.sums
    Some(SegmentMeta(label,
      Option(startK).getOrElse(mn), Option(stopK).getOrElse(mx),
      closed, sortedRows.length.toLong, Vector.empty,
      Some(mn), Some(mx), Some(sortedRows),
      vstats = if (vstats.nonEmpty) Some(vstats) else None,
      vsums = if (vsums.nonEmpty) Some(vsums) else None))
  }

  /** The driver tier: a fully-collected frame of at most `pageLen`
    * rows (one inner array per source partition) sorted on the driver
    * and written WITHOUT any Spark job as ONE segment file — a tiny
    * commit costs one local parquet flush plus one metadata commit,
    * the regime the reference's bench_fragmentation.py measures, and
    * the shape that keeps a high-frequency tiny-tick ingest from
    * serializing on per-write job scheduling at cluster scale. The
    * file is written by the same [[SegmentWriter.TaskSegmentWriter]]
    * a bulk-job task uses, so parquet format, digest and value stats
    * match the bulk path and identical content dedupes across tiers. */
  private def writeSmallRows(
      parts: Array[Array[org.apache.spark.sql.catalyst.InternalRow]],
      startK: IndexKey, stopK: IndexKey, closed: Closed, root: Boolean,
      verifySorted: Boolean): Unit = {
    val dtypes = schema.cols.map(_.dtype).toIndexedSeq
    val idxPos = schema.cols.zipWithIndex.filter(_._1.idx)
      .map(_._2).toArray
    val keyAt = new SegmentWriter.RowKeys(schema)
    // the presorted contract is per PARTITION order + range
    // disjointness, not pid order: concatenating partitions by their
    // first key makes the global order check below equivalent to it
    // (the distributed tier's seal-by-min does the same)
    val irows: Array[org.apache.spark.sql.catalyst.InternalRow] =
      if (!verifySorted || parts.count(_.nonEmpty) <= 1) parts.flatten
      else parts.filter(_.nonEmpty)
        .sortWith((a, b) => schema.cmpKey(keyAt(a(0)), keyAt(b(0))) < 0)
        .flatten
    // Index keys as per-COLUMN typed arrays (one pass, null-checked),
    // not an IndexKey/Vector per row: the sort below compares via
    // primitive array loads instead of boxed Vector[Any] dispatch —
    // profiled 5-10x on a 10^5-row driver-tier write. String
    // columns keep String.compareTo, matching cmpKey / manifest order.
    val n = irows.length
    val keyCols: Array[AnyRef] = idxPos.map { i =>
      val col: AnyRef = dtypes(i) match {
        case GType.FloatT => new Array[Double](n)
        case GType.StrT   => new Array[String](n)
        case _            => new Array[Long](n)
      }
      var r = 0
      while (r < n) {
        val ir = irows(r)
        if (ir.isNullAt(i)) throw new IllegalArgumentException(
          s"null value in index column '${schema.cols(i).name}' — " +
            "index columns must be non-null")
        dtypes(i) match {
          case GType.TimestampT | GType.IntT =>
            col.asInstanceOf[Array[Long]](r) = ir.getLong(i)
          case GType.DateT =>
            col.asInstanceOf[Array[Long]](r) = ir.getInt(i).toLong
          case GType.FloatT =>
            col.asInstanceOf[Array[Double]](r) = ir.getDouble(i)
          case GType.StrT =>
            col.asInstanceOf[Array[String]](r) =
              ir.getUTF8String(i).toString
        }
        r += 1
      }
      col
    }
    // String columns compare by DICTIONARY RANK during the sort: a
    // term column repeats heavily (the q128 postings frame has ~4x
    // row/term redundancy), so sorting ~u distinct strings once and
    // comparing ints after replaces the O(n log n) String.compareTo
    // calls that dominated the sort — same lexicographic order, since
    // ranks come from the sorted dictionary.
    // (skipped on the verify-only path: it compares adjacent rows
    // once, fewer compares than building the dictionary would cost)
    val rankCols: Array[Array[Int]] = keyCols.map {
      case s: Array[String] if !verifySorted =>
        val dict = new java.util.HashMap[String, Integer]()
        var r = 0
        while (r < n) { dict.putIfAbsent(s(r), 0); r += 1 }
        val distinct = dict.keySet().toArray(new Array[String](dict.size))
        java.util.Arrays.sort(distinct,
          java.util.Comparator.naturalOrder[String]())
        var rank = 0
        while (rank < distinct.length) {
          dict.put(distinct(rank), rank); rank += 1
        }
        val out = new Array[Int](n)
        r = 0
        while (r < n) { out(r) = dict.get(s(r)); r += 1 }
        out
      case _ => null
    }
    def cmpIdx(a: Int, b: Int): Int = {
      var k = 0
      while (k < keyCols.length) {
        val c = keyCols(k) match {
          case l: Array[Long]   => java.lang.Long.compare(l(a), l(b))
          case d: Array[Double] => java.lang.Double.compare(d(a), d(b))
          case s: Array[String] =>
            val rk = rankCols(k)
            if (rk != null) java.lang.Integer.compare(rk(a), rk(b))
            else s(a).compareTo(s(b))
        }
        if (c != 0) return c
        k += 1
      }
      0
    }
    def keyOf(r: Int): IndexKey = IndexKey(keyCols.map {
      case l: Array[Long]   => l(r): Any
      case d: Array[Double] => d(r): Any
      case s: Array[String] => s(r): Any
    }.toVector)
    val order: Array[Int] =
      if (verifySorted) {
        // same presorted contract the distributed tier enforces
        // in-task; a verified-sorted input needs no sort at all
        var i = 1
        while (i < n) {
          require(cmpIdx(i - 1, i) <= 0,
            s"presorted write got unsorted input: ${keyOf(i - 1)} > " +
              s"${keyOf(i)}")
          i += 1
        }
        Array.range(0, n)
      } else {
        val boxed = Array.range(0, n).map(Integer.valueOf)
        java.util.Arrays.sort(boxed,
          ((a: Integer, b: Integer) => cmpIdx(a, b)):
            java.util.Comparator[Integer])
        boxed.map(_.intValue)
      }
    val hconf = spark.sessionState.newHadoopConf()
    val rows = collection.staged() { p =>
      val tw = new SegmentWriter.TaskSegmentWriter(p, hconf, 0, 0L)
      val stats =
        try {
          order.foreach(r => tw.write(irows(r)))
          tw.finish().map(_._2)
        } finally tw.closeQuiet()
      sealSegments(stats, startK, stopK, closed)
    }
    commitRows(rows, root)
  }

  /** Splice one write's segment rows into the leaf manifest and append
    * a revision (or defer to an open multi() batch). */
  protected def commitRows(rows: Seq[SegmentMeta], root: Boolean): Unit =
    collection.batchOr(() => collection.commitOn(
      if (root) None else changelog.leaf())(Manifest.spliceWrite(_, rows)))(
      rows)

  /** Range delete: splice a row with no files over [start, stop] —
    * overlay hides the data, no data job at all. */
  def delete(start: Any, stop: Any, closed: Closed = Closed.Both): Unit = {
    val s = boundKey(start); val e = boundKey(stop)
    require(s != null && e != null, "delete needs start and stop")
    commitRows(Seq(SegmentMeta(label, s, e, closed, 0L, Vector.empty)),
      root = false)
  }

  // ------------------------------------------------------------------
  // read path
  // ------------------------------------------------------------------

  def emptyDf: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
      schema.sparkSchema)

  /** [[Collection.segmentCount]] for this label — the scan planner's
    * O(touched) diagnostics denominator (never enumerate the manifest
    * just to display a total). */
  private[graft] def segmentCountFast(
      beforeMs: Option[Long] = None): Int =
    collection.segmentCount(label, beforeMs)

  def segments(start: Any = null, stop: Any = null,
      beforeMs: Option[Long] = None,
      closed: Closed = Closed.Left,
      from: Option[Manifest] = None): Seq[SegmentRead] =
    from match {
      case Some(m) =>
        m.segments(label, Option(boundKey(start)), Option(boundKey(stop)),
          closed)
      case None =>
        // no snapshot given: the chunk-pruned path reads only the
        // covering manifest chunks when the leaf is big and cold
        collection.prunedSegments(label, Option(boundKey(start)),
          Option(boundKey(stop)), closed, beforeMs)
    }

  /** The one read planner's scan over `srcs` (see
    * [[graft.sources.GraftPlanning.scanDf]]): clone renames and defaults,
    * overlay clips and skip/take are baked into its partitions. */
  private def scan(srcs: Seq[GraftPlanning.Source], ordered: Boolean,
      what: String): DataFrame =
    GraftPlanning.scanDf(spark, this, schema, srcs, ordered,
      s"GraftSegments $label $what sources=${srcs.length}")

  private def sourcesOf(segs: Seq[SegmentRead]): IndexedSeq[GraftPlanning.Source] =
    segs.filter(_.meta.hasData).flatMap(GraftPlanning.sources).toIndexedSeq

  private def bounds(start: Any, stop: Any, closed: Closed): String =
    s"bounds=${boundKey(start)}..${boundKey(stop)} closed=$closed"

  /** Visible row offsets over the scan sources `srcs` (in walk order),
    * resolved on demand on the driver with no Spark job: `cum(k)` is
    * the number of rows before `srcs(k)`. The manifest counts an
    * untruncated segment; [[GraftPlanning.visibleRows]] counts a
    * clipped one from its page statistics and a bisect of its boundary
    * pages. */
  private final class RowCursor(srcs: IndexedSeq[GraftPlanning.Source]) {
    val cum = scala.collection.mutable.ArrayBuffer(0L)
    private lazy val conf = spark.sessionState.newHadoopConf()
    def resolved: Int = cum.length - 1
    def rows: Long = cum.last

    /** resolve sources until `n` rows are covered or none is left */
    def reach(n: Long): Unit =
      while (rows < n && resolved < srcs.length)
        cum += rows + GraftPlanning.visibleRows(Series.this, schema,
          srcs(resolved), conf)

    /** the sources cut to the visible rows [from, until) */
    def slice(from: Long, until: Long): Seq[GraftPlanning.Source] = {
      reach(until)
      (0 until resolved).flatMap { k =>
        val (a, b) = (cum(k), cum(k + 1))
        if (b <= from || a >= until || a == b) None
        else {
          val skip = math.max(0L, from - a)
          Some(srcs(k).copy(skip = skip,
            take = math.min(b, until) - a - skip))
        }
      }
    }
  }

  /** Output dtype mapping styles (reference lakota/schema.py:25-38
    * DTYPE_MAP): "default" keeps native Spark timestamp/date types,
    * "epoch" casts both to integral epoch seconds. */
  def styled(df: DataFrame, style: String): DataFrame = style match {
    case "default" => df
    case "epoch" =>
      df.select(df.columns.toSeq.map { n =>
        schema.cols.find(_.name == n).map(_.dtype) match {
          case Some(GType.TimestampT) =>
            unix_timestamp(col(n)).as(n)
          case Some(GType.DateT) =>
            // epochDay * 86400: timezone-independent, unlike a
            // date->timestamp cast which binds the session time zone
            (datediff(col(n), lit(java.sql.Date.valueOf("1970-01-01")))
              .cast("long") * lit(86400L)).as(n)
          case _ => col(n)
        }
      }: _*)
    case other =>
      throw new IllegalArgumentException(s"unknown dtype style: $other")
  }

  /** [[frame]] wrapped in the reference Frame verb surface. */
  def gframe(start: Any = null, stop: Any = null,
      beforeMs: Option[Long] = None,
      closed: Closed = Closed.Left): GFrame =
    GFrame(frame(start, stop, beforeMs, closed), schema)

  /** Assemble the series DataFrame over [start, stop]: one scan of the
    * visible segments, packed into index-sorted read tasks. Row order
    * across tasks is not a global sort — add `.orderBy` downstream
    * where total order matters. `limit`/`offset` cut the exact visible
    * rows on the driver (no Spark job) and serve them in order, in one
    * task.
    */
  def frame(start: Any = null, stop: Any = null,
      beforeMs: Option[Long] = None, closed: Closed = Closed.Left,
      limit: Option[Long] = None, offset: Option[Long] = None,
      select: Seq[String] = Nil, style: String = "default",
      from: Option[Manifest] = None): DataFrame = {
    Seq("offset" -> offset, "limit" -> limit).foreach { case (what, v) =>
      v.foreach(x => require(x >= 0 && x <= Int.MaxValue,
        s"$what must be in [0, ${Int.MaxValue}], got $x"))
    }
    val srcs = sourcesOf(segments(start, stop, beforeMs, closed, from))
    val what = bounds(start, stop, closed)
    var df =
      if (limit.isEmpty && offset.isEmpty) scan(srcs, ordered = false, what)
      else {
        val o = offset.getOrElse(0L)
        val until = limit.map(o + _).getOrElse(Long.MaxValue)
        scan(new RowCursor(srcs).slice(o, until), ordered = true,
          s"$what offset=$o" + limit.map(l => s" limit=$l").getOrElse(""))
      }
    if (select.nonEmpty) df = df.select(select.map(col): _*)
    styled(df, style)
  }

  /** Last `n` rows by index order (optionally pre-filtered), in order.
    * Only the trailing manifest segments covering `n` rows are counted
    * and scanned — the reference walks segments backwards the same way
    * (lakota/series.py:261-312). */
  def tail(n: Long, start: Any = null, stop: Any = null,
      beforeMs: Option[Long] = None, closed: Closed = Closed.Left,
      select: Seq[String] = Nil): DataFrame = {
    require(n > 0 && n <= Int.MaxValue,
      s"length argument must be in [1, ${Int.MaxValue}], got $n")
    // tail-pruned manifest read: on a cold chunked leaf only the
    // trailing chunks guaranteeing n rows are decoded (the full-
    // decode path walked every chunk of the label — the last
    // O(label-metadata) cold read)
    val srcs = sourcesOf(collection.prunedTailSegments(label,
      Option(boundKey(start)), Option(boundKey(stop)), closed,
      beforeMs, n)).reverse
    val c = new RowCursor(srcs)
    c.reach(n)
    // the walked sources back in index order, the first one cut to the
    // rows the tail still needs
    val keep = (0 until c.resolved).map { k =>
      val v = c.cum(k + 1) - c.cum(k)
      val need = math.min(v, n - c.cum(k))
      srcs(k).copy(skip = v - need, take = need)
    }.filter(_.take > 0).reverse
    var df = scan(keep, ordered = true,
      s"${bounds(start, stop, closed)} tail=$n")
    if (select.nonEmpty) df = df.select(select.map(col): _*)
    df
  }

  /** Fixed-size pages in index order, driven by the manifest cursor:
    * per-segment visible lengths come from the manifest and, for
    * overlay-clipped segments, from their page statistics, resolved
    * page by page with no Spark job; each page is the exact slices of
    * the 1-2 segments it overlaps, read in order in one task — no sort
    * (reference lakota/series.py:396-447 Paginate.loop).
    */
  def paginate(step: Long = 500000L, start: Any = null, stop: Any = null,
      beforeMs: Option[Long] = None,
      closed: Closed = Closed.Left): Iterator[DataFrame] = {
    require(step > 0 && step <= Int.MaxValue,
      s"step must be in [1, ${Int.MaxValue}], got $step")
    val cursor = new RowCursor(sourcesOf(segments(start, stop, beforeMs,
      closed)))
    val what = bounds(start, stop, closed)
    new Iterator[DataFrame] {
      private var off = 0L
      def hasNext: Boolean = { cursor.reach(off + step); cursor.rows > off }
      def next(): DataFrame = {
        if (!hasNext) throw new NoSuchElementException("no more pages")
        val hi = math.min(off + step, cursor.rows)
        val page = scan(cursor.slice(off, hi), ordered = true,
          s"$what page=$off..$hi")
        off = hi
        page
      }
    }
  }

  // ------------------------------------------------------------------
  // update (aligned partial-column overwrite)
  // ------------------------------------------------------------------

  /** Overwrite a subset of non-index columns over an aligned index
    * range; rows extending beyond stored data get zero-padding for the
    * columns not provided (reference lakota/series.py:159-190).
    */
  def update(dfIn: DataFrame): Unit = {
    val updCols = dfIn.columns.toSeq.filterNot(schema.idxNames.contains)
    val newDf = dfIn.select(
      (schema.idxNames ++ updCols).map(c =>
        col(c).cast(schema(c).dtype.sparkType).as(c)): _*)

    val bounds = newDf.agg(min(struct(idxCols: _*)).as("mn"),
      max(struct(idxCols: _*)).as("mx")).collect()(0)
    if (bounds.isNullAt(0)) return
    val startK = keyOf(bounds.getAs[Row]("mn"))
    val stopK = keyOf(bounds.getAs[Row]("mx"))

    val db = frame(startK, stopK, closed = Closed.Both).cache()
    try {
    val dbBounds = db.agg(min(struct(idxCols: _*)).as("mn"),
      max(struct(idxCols: _*)).as("mx")).collect()(0)

    val zeroPadded: Seq[Column] = schema.cols.map { c =>
      if (c.idx || updCols.contains(c.name)) col(c.name)
      else lit(c.dtype.zero).cast(c.dtype.sparkType).as(c.name)
    }

    val full: DataFrame =
      if (dbBounds.isNullAt(0)) {
        newDf.select(zeroPadded: _*)
      } else {
        val dbStart = keyOf(dbBounds.getAs[Row]("mn"))
        val dbStop = keyOf(dbBounds.getAs[Row]("mx"))
        val inRange = SparkVals.rangePredicate(schema.idx, idxCols,
          dbStart, dbStop, Closed.Both)
        val overlapNew = newDf.filter(inRange)
        // alignment check: indexes must match exactly on the overlap
        val dbCnt = db.count()
        val ovCnt = overlapNew.count()
        val misaligned = dbCnt != ovCnt ||
          overlapNew.join(db, schema.idxNames, "left_anti").count() > 0
        if (misaligned)
          throw new IllegalArgumentException(
            "Update frame is not aligned with existing index")
        val merged = db.drop(updCols: _*)
          .join(overlapNew, schema.idxNames.toSeq)
          .select(schema.names.map(col): _*)
        val head = newDf.filter(SparkVals.lexBound(schema.idx, idxCols,
            dbStart, lower = false, strict = true))
          .select(zeroPadded: _*)
        val tail = newDf.filter(SparkVals.lexBound(schema.idx, idxCols,
            dbStop, lower = true, strict = true))
          .select(zeroPadded: _*)
        head.unionByName(merged).unionByName(tail)
      }
    // the write path evaluates its input twice (bounded probe + main
    // job); persist the joined frame so the join doesn't run twice
    val pinned = full.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // duplicate index keys on BOTH sides pass the count+anti-join
      // alignment check but fan the inner join out k×k — catch the
      // expansion before committing silently duplicated rows
      if (pinned.count() != newDf.count())
        throw new IllegalArgumentException(
          "Update frame is not aligned with existing index " +
            "(duplicate index keys fan out the alignment join)")
      write(pinned, startK, stopK, Closed.Both)
    } finally pinned.unpersist()
    // closes the try opened right after db.cache(): a misalignment
    // throw must not leave db pinned for the life of the session
    } finally db.unpersist()
    ()
  }

  /** Visible row count with no Spark job: per-segment lengths are
    * metadata for untruncated segments; an overlay-clipped one is
    * counted from its page statistics and boundary pages. */
  def length(): Long = {
    val c = new RowCursor(sourcesOf(segments()))
    c.reach(Long.MaxValue)
    c.rows
  }

  // ------------------------------------------------------------------
  // bulk import/export (reference Repo.import_/export_ series,
  // lakota/repo.py:415-499 — native Spark csv/parquet writers here)
  // ------------------------------------------------------------------

  def exportCsv(path: String): Unit =
    frame().orderBy(idxCols: _*).coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(path)

  def importCsv(path: String): Unit =
    write(spark.read.option("header", "true").csv(path))

  def exportParquet(path: String): Unit =
    frame().orderBy(idxCols: _*)
      .write.mode("overwrite").parquet(path)

  def importParquet(path: String): Unit =
    write(spark.read.parquet(path))

  /** JSONL (one JSON object per line) — the interchange format LLM
    * training pipelines consume; distributed write, ISO-8601
    * timestamps at FULL microsecond precision (Spark's default JSON
    * timestampFormat silently truncates to milliseconds). Schema is
    * re-imposed on import (JSON carries no types), so the round trip
    * is loss-free for the engine dtypes. */
  private val JsonlTsFormat = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"

  def exportJsonl(path: String): Unit =
    frame().orderBy(idxCols: _*)
      .write.mode("overwrite")
      .option("timestampFormat", JsonlTsFormat).json(path)

  def importJsonl(path: String): Unit =
    write(spark.read.schema(schema.sparkSchema)
      .option("timestampFormat", JsonlTsFormat).json(path))

  // ------------------------------------------------------------------
  // sampling-period helpers (reference Series.period/interval,
  // lakota/series.py:56-80)
  // ------------------------------------------------------------------

  /** Average seconds between consecutive ticks, from manifest bounds
    * only (no data read). First index column must be a timestamp. */
  def period(): Option[Double] = {
    require(schema.idx.head.dtype == GType.TimestampT,
      "period() needs a timestamp first index column")
    val rows = collection.manifest().map(_.rows.filter(r =>
      r.label == label && r.length > 0)).getOrElse(Vector.empty)
    if (rows.isEmpty) None
    else Some(rows.map { r =>
      val span = (r.stop.values(0).asInstanceOf[Long] -
        r.start.values(0).asInstanceOf[Long]) / 1e6
      span / math.max(r.length, 1)
    }.min)
  }

  /** Smallest natural calendar unit fitting ~`size` rows per segment —
    * used to pick write-partition granularity. */
  def interval(size: Long = 500000L): Option[String] =
    period().flatMap(p => Interval.bisect(p * size))
}

object Series {
  /** driver-tier size gate: only inputs the optimizer estimates under
    * this many bytes are probed for the driver tier */
  private val DriverWriteBytes = 32L << 20
  /** auto-sort write width: one task per this many estimated input
    * bytes, capped by the session's shuffle parallelism */
  private val WriteTaskBytes = 2L << 20
}

/** Natural calendar partition units (reference lakota/utils.py:289-304). */
object Interval {
  private val units = Seq(
    "m" -> 60.0, "h" -> 3600.0, "D" -> 86400.0, "W" -> 604800.0,
    "M" -> 2592000.0, "Y" -> 31536000.0)

  /** label of the smallest unit strictly greater than the duration
    * (None past a year) — matches the reference's bisect_right. */
  def bisect(seconds: Double): Option[String] =
    units.collectFirst { case (l, d) if seconds < d => l }
}

/** Upsert-semantics series (reference lakota/series.py:449-503):
  * writing merges with existing rows per index key, new rows win.
  */
class KVSeries(collection: Collection, label: String)
    extends Series(collection, label) {
  import collection.schema

  override def write(df: DataFrame, start: Any, stop: Any,
      closed: Closed, root: Boolean, presorted: Boolean): Unit = {
    // an upsert merges with stored rows, so presorted pass-through
    // ordering cannot be preserved — the merged frame re-sorts
    if (root || start != null || stop != null) {
      super.write(df, start, stop, closed, root); return
    }
    val data = cast(df)
    val bounds = data.agg(min(struct(schema.idxNames.map(col): _*)).as("mn"),
      max(struct(schema.idxNames.map(col): _*)).as("mx")).collect()(0)
    if (bounds.isNullAt(0)) return
    val db = frame(boundFromRow(bounds.getAs[Row]("mn")),
      boundFromRow(bounds.getAs[Row]("mx")), closed = Closed.Both)
    if (db.isEmpty) { super.write(data, null, null, closed); return }

    // provenance: 0 = new, 1 = stored; first (=min provenance) wins
    val tagged = data.withColumn("_src", lit(0))
      .unionByName(db.withColumn("_src", lit(1)))
    val aggCols = schema.nonIdx.map(c =>
      expr(s"min_by(${c.name}, _src)").as(c.name))
    val out = tagged.groupBy(schema.idxNames.map(col): _*)
      .agg(aggCols.head, aggCols.tail: _*)
      .select(schema.names.map(col): _*)
      // the write path evaluates its input twice (probe + main job);
      // persist so the upsert aggregation doesn't run twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try super.write(out, null, null, Closed.Both)
    finally out.unpersist()
  }

  private def boundFromRow(r: Row): IndexKey =
    IndexKey(schema.idx.zipWithIndex.map { case (c, i) =>
      SparkVals.toKernel(c.dtype, r.get(i)) }.toVector)

  /** Remove the given first-index-column keys (rewrites the covering
    * range without them). */
  def deleteKeys(keys: Seq[Any]): Unit = {
    if (keys.isEmpty) return
    val dt = schema.idx.head.dtype
    val ks = keys.map(k => SparkVals.parseBound(dt, k))
    val mn = ks.min(Ordering.fromLessThan[Any]((a, b) => dt.cmp(a, b) < 0))
    val mx = ks.max(Ordering.fromLessThan[Any]((a, b) => dt.cmp(a, b) < 0))
    val db = frame(IndexKey(Vector(mn)), IndexKey(Vector(mx)),
      closed = Closed.Both)
    val keyCol = col(schema.idxNames.head)
    val keep = db.filter(ks.map(k =>
      keyCol =!= SparkVals.toLiteral(dt, k)).reduce(_ && _))
    super.write(keep, IndexKey(Vector(mn)), IndexKey(Vector(mx)),
      Closed.Both)
  }
}
