package graft.sources

import java.util

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.connector.catalog.procedures.{BoundProcedure,
  ProcedureParameter, UnboundProcedure}
import org.apache.spark.sql.connector.read.{LocalScan, Scan}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The engine's maintenance surface as Spark SQL STORED PROCEDURES
  * (Spark 4 `ProcedureCatalog`, the Iceberg `CALL` idiom):
  *
  * {{{
  * CALL g.sys.defrag(collection => 'prices')      -- Delta OPTIMIZE analogue
  * CALL g.sys.squash('prices')                    -- collapse history to one commit
  * CALL g.sys.trim('prices', <epoch_ms>)          -- drop revisions older than
  * CALL g.sys.merge('prices')                     -- 3-way merge divergent leafs
  * CALL g.sys.gc()                                -- two-phase unreferenced-file GC
  * CALL g.sys.clone('prices', 'prices_v2')        -- zero-copy collection clone
  * CALL g.sys.archive('prices')                   -- move to the archive namespace
  * CALL g.sys.restore('prices', '<revision>')    -- Delta RESTORE analogue
  * CALL g.sys.push('/path/or/uri/to/remote')      -- repo sync (push)
  * CALL g.sys.pull('/path/or/uri/to/remote')      -- repo sync (pull)
  * SHOW PROCEDURES IN g.sys; DESCRIBE PROCEDURE g.sys.defrag
  * }}}
  *
  * Each returns a one-row result set (before/after counts) via a
  * driver-side [[LocalScan]] — maintenance is manifest/changelog
  * metadata work; only `defrag` launches Spark jobs (the rewrite of
  * small-segment runs), exactly like the API path it delegates to.
  * Reference: the lakota CLI's squash/trim/defrag/gc/merge/push/pull
  * verbs (lakota/cli.py) — here as SQL, so a warehouse user never
  * needs the Scala API for day-2 operations.
  */
private[sources] object GraftProcedures {

  val Namespace = "sys"

  private def builders: Map[String, String => ProcBase] = Map(
    "defrag" -> (new Defrag(_)),
    "squash" -> (new Squash(_)),
    "trim" -> (new Trim(_)),
    "merge" -> (new MergeProc(_)),
    "gc" -> (new Gc(_)),
    "clone" -> (new CloneProc(_)),
    "archive" -> (new ArchiveProc(_)),
    "push" -> (new Push(_)),
    "pull" -> (new Pull(_)),
    "history" -> (new History(_)),
    "analyze" -> (new Analyze(_)),
    "restore" -> (new Restore(_)))

  def load(rootUri: String, ident: Identifier): UnboundProcedure = {
    val nsOk = ident.namespace().length == 1 &&
      ident.namespace()(0).equalsIgnoreCase(Namespace)
    val b = if (nsOk) builders.get(ident.name().toLowerCase) else None
    b.map(_(rootUri)).getOrElse(throw new IllegalArgumentException(
      s"graft: no procedure ${ident.namespace().mkString(".")}." +
        s"${ident.name()} — known: ${builders.keys.toSeq.sorted
          .map(n => s"$Namespace.$n").mkString(", ")}"))
  }

  def list(ns: Array[String]): Array[Identifier] =
    if (ns.isEmpty ||
      (ns.length == 1 && ns(0).equalsIgnoreCase(Namespace)))
      builders.keys.toSeq.sorted
        .map(n => Identifier.of(Array(Namespace), n)).toArray
    else Array.empty
}

/** One graft procedure: binding is static (parameters fully declare
  * the signature), execution is driver-side against the repo API,
  * and the result is a single-row [[LocalScan]].
  */
private[sources] abstract class ProcBase(rootUri: String)
    extends UnboundProcedure with BoundProcedure {

  protected def spark: SparkSession = SparkSession.active
  protected def repo: graft.api.Repo =
    new graft.api.Repo(rootUri, spark)

  protected def collection(label: String): graft.api.Collection =
    repo.collection(label).getOrElse(throw new IllegalArgumentException(
      s"graft: no collection '$label' in $rootUri"))

  protected def out: StructType
  protected def run(in: InternalRow): Seq[Any]
  /** multi-row procedures override this; default = one `run` row */
  protected def runRows(in: InternalRow): Seq[Seq[Any]] = Seq(run(in))

  protected def str(v: String): UTF8String = UTF8String.fromString(v)

  override def bind(inputType: StructType): BoundProcedure = this
  override def isDeterministic: Boolean = false

  override def call(in: InternalRow): util.Iterator[Scan] = {
    val vals = runRows(in)
    val schema = out
    val scan: Scan = new LocalScan {
      override def rows(): Array[InternalRow] =
        vals.map(InternalRow.fromSeq).toArray
      override def readSchema(): StructType = schema
    }
    util.Arrays.asList(scan).iterator()
  }
}

/** Compact runs of small segments into page-sized ones (Delta
  * OPTIMIZE analogue; reference lakota/collection.py:364-403). */
private final class Defrag(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "defrag"
  override def description(): String =
    "Rewrite runs of small segments as page-sized ones (OPTIMIZE)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build(),
    ProcedureParameter.in("max_chunk", IntegerType)
      .defaultValue("4").build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("segments_before", LongType, nullable = false),
    StructField("segments_after", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val maxChunk = if (in.isNullAt(1)) 4 else in.getInt(1)
    val c = collection(label)
    def segs: Long =
      c.manifest().map(_.rows.count(_.hasData).toLong).getOrElse(0L)
    val before = segs
    c.defrag(maxChunk)
    Seq(str(label), before, segs)
  }
}

/** Collapse the changelog to a single commit holding the current
  * manifest (reference Collection.squash). */
private final class Squash(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "squash"
  override def description(): String =
    "Collapse a collection's changelog to one commit"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("revisions_before", LongType, nullable = false),
    StructField("revisions_after", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val c = collection(label)
    val before = c.changelog.log().length.toLong
    c.squash()
    Seq(str(label), before, c.changelog.log().length.toLong)
  }
}

/** Drop revisions older than `before_ms`, keeping the leaf
  * (reference Changelog.trim). */
private final class Trim(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "trim"
  override def description(): String =
    "Drop changelog revisions older than before_ms (keeps the leaf)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build(),
    ProcedureParameter.in("before_ms", LongType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("revisions_before", LongType, nullable = false),
    StructField("revisions_after", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val c = collection(label)
    val before = c.changelog.log().length.toLong
    c.trim(in.getLong(1))
    Seq(str(label), before, c.changelog.log().length.toLong)
  }
}

/** Three-way merge of divergent changelog leafs (reference
  * Collection.merge). */
private final class MergeProc(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "merge"
  override def description(): String =
    "Three-way merge of divergent changelog heads"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("leafs_before", LongType, nullable = false),
    StructField("leafs_after", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val c = collection(label)
    val before = c.changelog.leafs().length.toLong
    c.merge()
    Seq(str(label), before, c.changelog.leafs().length.toLong)
  }
}

/** Two-phase GC: bury unreferenced segment files, reap buried files
  * older than the timeout, resurrect re-referenced ones (reference
  * lakota/repo.py:339-413). */
private final class Gc(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "gc"
  override def description(): String =
    "Two-phase GC of unreferenced segment files (bury / reap)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("timeout_ms", LongType)
      .defaultValue("600000").build())
  override protected val out: StructType = StructType(Seq(
    StructField("files_collected", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val t = if (in.isNullAt(0)) 600000L else in.getLong(0)
    Seq(repo.gc(t).toLong)
  }
}

/** Zero-copy collection clone — shares segment files, optionally
  * renaming columns via the clone's colMap (reference
  * Collection.clone semantics). */
private final class CloneProc(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "clone"
  override def description(): String =
    "Zero-copy clone of a collection under a new label"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build(),
    ProcedureParameter.in("target", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("target", StringType, nullable = false),
    StructField("series", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val target = in.getUTF8String(1).toString
    val t = collection(label).cloneTo(target)
    Seq(str(target), t.ls().length.toLong)
  }
}

/** Park a snapshot of a collection under the archive namespace:
  * creates (or reuses) the same-schema archive sibling and pulls the
  * live changelog into it — segment files are content-addressed and
  * SHARED, so no data is rewritten, and the gc live set spans every
  * namespace. The live collection is left in place; dropping it is a
  * separate, explicit `DROP NAMESPACE` (reference Repo.archive,
  * lakota/repo.py:227-232). */
private final class ArchiveProc(rootUri: String)
    extends ProcBase(rootUri) {
  override def name(): String = "archive"
  override def description(): String =
    "Park a snapshot under the archive namespace (zero data copy)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("revisions_archived", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val c = collection(label)
    val arc = repo.archive(c)
    arc.pull(c)
    Seq(str(label), arc.changelog.log().length.toLong)
  }
}

/** Push the whole repo (or one collection) to a remote store URI —
  * missing segment files + changelog entries only (reference
  * Repo.push / Collection.push). */
private final class Push(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "push"
  override def description(): String =
    "Push missing segments + changelog entries to a remote repo"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("remote", StringType).build(),
    ProcedureParameter.in("collection", StringType)
      .defaultValue("NULL").build(),
    ProcedureParameter.in("shallow", BooleanType)
      .defaultValue("false").build())
  override protected val out: StructType = StructType(Seq(
    StructField("remote", StringType, nullable = false),
    StructField("collections", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val remoteUri = in.getUTF8String(0).toString
    val labels =
      if (in.isNullAt(1)) Nil else Seq(in.getUTF8String(1).toString)
    val shallow = !in.isNullAt(2) && in.getBoolean(2)
    val remote = new graft.api.Repo(remoteUri, spark)
    repo.push(remote, labels, shallow)
    val n = (if (labels.nonEmpty) labels else repo.ls()).length.toLong
    Seq(str(remoteUri), n)
  }
}

/** Backfill per-segment VALUE-column (min, max) statistics for
  * manifest rows written before stats existed (or imported): ONE
  * Spark job reads every stats-less segment file grouped by its
  * `_file` provenance, aggregates each value column's min/max (NaN
  * poisons a float column, exactly like the write-time collector),
  * and ONE metadata commit attaches the stats to the manifest rows —
  * after which value-predicate data skipping covers the old data
  * too. The ANALYZE-table analogue for the versioned store. */
private final class Analyze(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "analyze"
  override def description(): String =
    "Backfill value-column min/max stats onto stats-less segments"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("segments_analyzed", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    import org.apache.spark.sql.functions._
    val label = in.getUTF8String(0).toString
    val c = collection(label)
    val leaf = c.changelog.leaf()
    val m = leaf.map(c.decodeCached)
      .getOrElse(graft.core.Manifest.empty(c.schema))
    val missing = m.rows.filter(r =>
      r.files.nonEmpty && r.vstats.isEmpty)
    if (missing.isEmpty) return Seq(str(label), 0L)
    val valCols = c.schema.cols.filterNot(_.idx)
    val physOf = valCols.map(cd => cd.name -> c.physOf(cd.name)).toMap
    val aggs = valCols.flatMap { cd =>
      val p = physOf(cd.name)
      val nan =
        if (cd.dtype == graft.core.GType.FloatT)
          max(isnan(col(cd.name))).as(s"__nan_$p")
        else lit(false).as(s"__nan_$p")
      Seq(min(col(cd.name)).as(s"__mn_$p"), max(col(cd.name)).as(s"__mx_$p"),
        nan)
    }
    // the connector's readers (every storage mode, BSS pages included),
    // one partition per file, `_file` provenance as the group key
    val parts = missing.flatMap(r => GraftPlanning.partitionsFor(
      new graft.api.Series(c, r.label), c.schema,
      GraftPlanning.FileCol +: valCols.map(_.name),
      graft.core.SegmentRead(r, r.start, r.stop, r.closed), null))
    val struct = StructType(
      StructField(GraftPlanning.FileCol, StringType, nullable = true) +:
        valCols.map(cd => StructField(cd.name, cd.dtype.sparkType,
          nullable = true)))
    val perFile = GraftPlanning.internalScan(spark, parts, struct)
      .groupBy(col(GraftPlanning.FileCol).as("__f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    val byRel: Map[String, org.apache.spark.sql.Row] =
      perFile.map(r => r.getString(0) -> r).toMap
    def statsOf(fs: Seq[String]): Map[String, (Any, Any)] =
      valCols.flatMap { cd =>
        val p = physOf(cd.name)
        val per = fs.flatMap(byRel.get).flatMap { row =>
          val mn = row.getAs[Any](s"__mn_$p")
          val mx = row.getAs[Any](s"__mx_$p")
          val nan = row.getAs[Boolean](s"__nan_$p")
          if (nan || mn == null) None
          else Some((graft.engine.SparkVals.toKernel(cd.dtype, mn),
            graft.engine.SparkVals.toKernel(cd.dtype, mx)))
        }
        // every file of the row must contribute a clean bound, or
        // the row gets no entry for this column (NaN/all-null file)
        if (per.length != fs.length || per.isEmpty) None
        else {
          val dt = cd.dtype
          Some(p -> ((per.map(_._1).reduce((a, b) =>
            if (dt.cmp(a, b) <= 0) a else b),
            per.map(_._2).reduce((a, b) =>
              if (dt.cmp(a, b) >= 0) a else b))))
        }
      }.toMap
    val missSet = missing.toSet
    val rows2 = m.rows.map { r =>
      if (!missSet.contains(r)) r
      else {
        val vs = statsOf(r.files)
        if (vs.isEmpty) r else r.copy(vstats = Some(vs))
      }
    }
    c.commitManifest(m.withRows(rows2),
      parents = Seq(leaf.map(_.child)
        .getOrElse(graft.core.Changelog.Phi)))
    c.refresh()
    Seq(str(label), missing.length.toLong)
  }
}

/** One row per changelog revision — `DESCRIBE HISTORY` for the
  * store: revision id (usable as `VERSION AS OF`), parent, commit
  * time, and the manifest's series/segments/rows at that revision. */
private final class History(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "history"
  override def description(): String =
    "One row per revision: id, parent, time, series/segments/rows"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("revision", StringType, nullable = false),
    StructField("parent", StringType, nullable = false),
    StructField("committed_at", TimestampType, nullable = false),
    StructField("is_leaf", BooleanType, nullable = false),
    StructField("series", LongType, nullable = false),
    StructField("segments", LongType, nullable = false),
    StructField("rows", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] =
    throw new IllegalStateException("multi-row procedure")
  override protected def runRows(in: InternalRow): Seq[Seq[Any]] = {
    val c = collection(in.getUTF8String(0).toString)
    c.changelog.log().map { r =>
      val m = c.decodeCached(r)
      val dataRows = m.rows.filter(_.hasData)
      Seq(str(r.child), str(r.parent),
        r.epochMs * 1000L, // micros for TimestampType
        r.isLeaf,
        dataRows.map(_.label).distinct.length.toLong,
        dataRows.length.toLong,
        dataRows.map(_.length).sum)
    }
  }
}

/** Pull from a remote store URI (reference Repo.pull). */
private final class Pull(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "pull"
  override def description(): String =
    "Pull missing segments + changelog entries from a remote repo"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("remote", StringType).build(),
    ProcedureParameter.in("collection", StringType)
      .defaultValue("NULL").build(),
    ProcedureParameter.in("shallow", BooleanType)
      .defaultValue("false").build())
  override protected val out: StructType = StructType(Seq(
    StructField("remote", StringType, nullable = false),
    StructField("collections", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val remoteUri = in.getUTF8String(0).toString
    val labels =
      if (in.isNullAt(1)) Nil else Seq(in.getUTF8String(1).toString)
    val shallow = !in.isNullAt(2) && in.getBoolean(2)
    val remote = new graft.api.Repo(remoteUri, spark)
    repo.pull(remote, labels, shallow)
    val n = (if (labels.nonEmpty) labels else remote.ls()).length.toLong
    Seq(str(remoteUri), n)
  }
}

/** RESTORE a collection to an earlier revision (the Delta RESTORE /
  * Iceberg rollback_to_snapshot verb): decode the pinned revision's
  * manifest and commit it as the NEW leaf. Restoration is a FORWARD
  * commit — the undone revisions stay in the changelog (time travel
  * still reads them; `sys.trim`/`sys.squash` retire them; a later
  * `sys.gc` reaps files only they referenced), so a restore is itself
  * undoable. Accepts the same version forms as `VERSION AS OF`: a
  * revision id from `CALL sys.history` (full or unambiguous prefix)
  * or epoch millis on the changelog clock. */
private final class Restore(rootUri: String) extends ProcBase(rootUri) {
  override def name(): String = "restore"
  override def description(): String =
    "Commit an earlier revision's manifest as the new leaf (RESTORE)"
  override def parameters(): Array[ProcedureParameter] = Array(
    ProcedureParameter.in("collection", StringType).build(),
    ProcedureParameter.in("version", StringType).build())
  override protected val out: StructType = StructType(Seq(
    StructField("collection", StringType, nullable = false),
    StructField("restored_to", StringType, nullable = false),
    StructField("segments", LongType, nullable = false),
    StructField("rows", LongType, nullable = false)))
  override protected def run(in: InternalRow): Seq[Any] = {
    val label = in.getUTF8String(0).toString
    val version = in.getUTF8String(1).toString
    val c = collection(label)
    val rev = c.restore(version)
    val dataRows = c.decodeCached(rev).rows.filter(_.hasData)
    Seq(str(label), str(rev.child), dataRows.length.toLong,
      dataRows.map(_.length).sum)
  }
}
