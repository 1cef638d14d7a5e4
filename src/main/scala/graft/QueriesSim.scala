package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Similarity-search / near-duplicate / embedding operators for the
  * training-data pipeline, with exactly mirrored Spark-SQL and DuckDB
  * oracle statements (shared constants, same integer hash math).
  *
  * Hash design: h(s) = first 8 hex chars of md5(s) as unsigned int
  * (identical in both engines), minhash_j = min((a_j*h+b_j) mod P)
  * with a_j < 1e6 so a*h < 2^52 — no 64-bit overflow in either
  * engine's BIGINT arithmetic.
  *
  * Scale notes: the documents table arrives as one small parquet file
  * (one input partition) while the shingle explode+md5 pipeline is
  * CPU-bound — an explicit REPARTITION spreads it across cores, and
  * the shared shingle table is materialized once instead of being
  * recomputed inside every broadcast branch. At cluster scale the same
  * pattern holds: repartition before the expensive map, materialize
  * between logical phases.
  */
object QueriesSim {

  // hash constants shared with the native kernel (single source of
  // truth: graft.functions.MinHashImpl)
  val P: Long = graft.functions.MinHashImpl.P
  val A: Seq[Long] = graft.functions.MinHashImpl.A.toSeq
  val B: Seq[Long] = graft.functions.MinHashImpl.B.toSeq

  private def run(s: SparkSession, dir: String, sql: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(sql)
  }

  /** Materialize an expensive intermediate once (parallel) and expose
    * it as a temp view. Cluster-safe: persist() keeps the blocks on the
    * executors that computed them (spilling to executor-local disk as
    * needed) — no driver-local filesystem round trip, no second write
    * job. The REPARTITION(32, doc_id) hints inside the SQL keep the
    * cached data spread across partitions so AQE cannot serialize the
    * CPU-heavy downstream joins.
    *
    * Cached per (session, view, dir): q22/q23/q24 all derive from the
    * same shingle table, so within one session the explode+md5 pass
    * runs once, not three times. A cached DataFrame's plan is captured
    * at creation, so later re-registration of the `documents` temp
    * view for a different dir cannot leak in — the dir is in the key.
    */
  // Weak keys alone CANNOT reclaim these entries: the cached
  // DataFrames strongly reference their SparkSession, so the value
  // pins the key (the WeakHashMap-javadoc value->key trap). Eviction
  // is therefore explicit — every access sweeps entries whose
  // SparkContext is stopped, so a driver that cycles sessions (bench
  // rounds, notebook restarts) cannot accumulate dead plans. The
  // identity-keyed map still guarantees a new session never inherits
  // a dead session's cache.
  private val matCache =
    java.util.Collections.synchronizedMap(
      new java.util.IdentityHashMap[SparkSession,
        scala.collection.concurrent.TrieMap[(String, String), DataFrame]])

  private def sessionCache(s: SparkSession) = {
    matCache.synchronized {
      val it = matCache.entrySet().iterator()
      while (it.hasNext) {
        if (it.next().getKey.sparkContext.isStopped) it.remove()
      }
    }
    val c = matCache.get(s)
    if (c != null) c else {
      val fresh = scala.collection.concurrent.TrieMap
        .empty[(String, String), DataFrame]
      val prev = matCache.putIfAbsent(s, fresh)
      if (prev != null) prev else fresh
    }
  }

  /** Per-session memo of a whole result under `(name, dir)`: built at
    * most once per live session, under the per-session lock (so two
    * racing callers never both run `build`), with no checkpoint and no
    * temp view — `build` decides its own durability. */
  private[graft] def memo(s: SparkSession, dir: String, name: String)(
      build: => DataFrame): DataFrame = {
    val cache = sessionCache(s)
    cache.synchronized(cache.getOrElseUpdate((name, dir), build))
  }

  /** Drop every session's [[memo]] entries under `name`. */
  private[graft] def forget(name: String): Unit = {
    // snapshot, then lock each session alone: a memo build holds its
    // session lock while it reaches for matCache's
    val caches = matCache.synchronized(
      new java.util.ArrayList(matCache.values()))
    caches.forEach(c => c.synchronized {
      c.keys.filter(_._1 == name).foreach(c.remove)
    })
  }

  private[graft] def materialize(s: SparkSession, dir: String, sql: String,
      view: String): Unit =
    materializeDf(s, dir, view)(s.sql(sql))

  /** DataFrame-input variant of [[materialize]] for intermediates that
    * SQL cannot express (codec mapPartitions fixtures). Same session
    * cache, same checkpoint durability semantics. The builder is
    * by-name: it only evaluates on a cache miss. */
  private[graft] def materializeDf(s: SparkSession, dir: String,
      view: String)(build: => DataFrame): Unit =
    materialize0(s, dir, () => build, view)

  private def materialize0(s: SparkSession, dir: String,
      build: () => DataFrame, view: String): Unit = {
    val cache = sessionCache(s)
    // One per-session lock around evict + build + view-rebind:
    //  - TrieMap.getOrElseUpdate alone may evaluate a racing builder
    //    and discard its result, stranding a whole checkpoint in
    //    executor storage with nothing left holding a handle to
    //    unpersist it;
    //  - eviction outside the lock could unpersist an entry another
    //    thread JUST built for a different dir before that thread
    //    binds the temp view — the view would point at freed blocks
    //    with cut lineage (missing-block failures downstream).
    // The lock is per-session and uncontended in single-threaded use.
    cache.synchronized {
    // evict stale entries for the same view on another dir — free the
    // checkpoint blocks eagerly; stale shingle tables must not pin
    // executor memory until a driver GC cycle notices
    cache.keys.filter(k => k._1 == view && k._2 != dir)
      .foreach(k => cache.remove(k).foreach(
        org.apache.spark.sql.GraftBridge.unpersistCheckpoint))
    val df = cache.getOrElseUpdate((view, dir), {
      // EAGER checkpoint, not persist+view: a view over a cached
      // plan must re-match the cache at every use site, and inside a
      // multi-branch SQL (the 4-band union self-join) Spark re-derived
      // the aggregate from source per branch — profiled as 4 full
      // shingle-table passes. A checkpoint pins the computed blocks as
      // a LogicalRDD: every branch scans rows, nothing recomputes.
      //
      // Durability is a deployment choice (spark.graft.materialize):
      //  - "local" (default): localCheckpoint — fastest, but blocks
      //    live only in executor storage; an executor lost to dynamic
      //    allocation or preemption kills the query (lineage is cut).
      //    Right for local[] and static-allocation clusters.
      //  - "reliable": Dataset.checkpoint to the configured
      //    spark.graft.checkpoint.dir (an HDFS/object-store path on a
      //    real cluster) — survives executor loss at the cost of one
      //    distributed write+read. Right under dynamic allocation.
      s.conf.get("spark.graft.materialize", "local") match {
        case "reliable" =>
          if (s.sparkContext.getCheckpointDir.isEmpty) {
            // no silent local-tempdir fallback: a driver-local path
            // is NOT durable to executor loss — the one scenario this
            // mode exists for — so a missing dir is a config error
            val dir = s.conf.getOption("spark.graft.checkpoint.dir")
              .getOrElse(throw new IllegalArgumentException(
                "spark.graft.materialize=reliable requires " +
                "spark.graft.checkpoint.dir (a cluster-visible " +
                "HDFS/object-store path)"))
            s.sparkContext.setCheckpointDir(dir)
          }
          build().checkpoint()
        case _ => build().localCheckpoint()
      }
    })
    df.createOrReplaceTempView(view)
    }
  }

  /** register the shared materialized shingle table as `sim_tok`
    * (used by q22-q24 here and the decontamination query) */
  private[graft] def tokView(s: SparkSession, dir: String): Unit = {
    Tables.registerAll(s, dir)
    materialize(s, dir, sparkShingleSelect, "sim_tok")
  }

  // ---- dialect snippets -------------------------------------------------

  /** doc_id + DISTINCT 3-gram shingles + their hash, Spark dialect.
    * The inner spread hint keeps the tokenize+explode parallel on a
    * one-file fixture (gated: a many-file corpus scan is already
    * parallel and the raw-text exchange disappears — guide §2.3); the
    * outer doc_id REPARTITION is the DISTINCT's own load-bearing
    * shuffle, re-keyed to doc_id (a subset of the distinct keys, so
    * one exchange serves both) so the md5 stage stays parallel. */
  private[graft] def sparkShingleSelect =
    s"""SELECT doc_id, s, ${sparkHex("s")} AS hv FROM (
      |  SELECT /*+ REPARTITION(${Tables.np}, doc_id) */ DISTINCT doc_id, s FROM (
      |    SELECT doc_id, explode(transform(sequence(1, size(t)-2),
      |      i -> concat(element_at(t,i),' ',element_at(t,i+1),' ',
      |                  element_at(t,i+2)))) AS s
      |    FROM (SELECT ${Tables.spread("documents")} doc_id,
      |            split(text,' ', -1) AS t FROM documents)
      |    WHERE size(t) >= 3))""".stripMargin

  /** same, DuckDB dialect (as a CTE named tok) */
  private[graft] def duckShingleTok =
    s"""tok AS (
      |  SELECT doc_id, s, ${duckHex("s")} AS hv FROM (
      |  SELECT DISTINCT doc_id, s FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(t)-1),
      |      i -> t[i]||' '||t[i+1]||' '||t[i+2])) AS s
      |    FROM (SELECT doc_id, string_split(text,' ') AS t FROM documents)
      |    WHERE len(t) >= 3)))""".stripMargin

  private def sparkHex(e: String): String =
    s"cast(conv(substr(md5($e),1,8),16,10) as bigint)"
  private def duckHex(e: String): String =
    s"('0x'||substr(md5($e),1,8))::BIGINT"

  private def minhashCols: String =
    A.zip(B).zipWithIndex.map { case ((a, b), i) =>
      s"min(($a*hv+$b)%$P) AS mh${i + 1}" }.mkString(",\n  ")

  // ---- q22: minhash signatures -----------------------------------------

  private[graft] def sigBody(tokRef: String): String =
    s"""sig AS (SELECT doc_id,
       |  $minhashCols
       |FROM $tokRef GROUP BY doc_id)""".stripMargin

  /** Signatures as a NARROW in-row array pipeline: shingle, distinct,
    * hash and take the 8 mins entirely inside one projection —
    * documents are never exploded and nothing shuffles. This is the
    * 100 TB shape for signature extraction (scan-speed, embarrassingly
    * parallel); the exploded `sim_tok` inverted index exists only for
    * the operators that genuinely need cross-document joins (q23/q24
    * banding and jaccard verification). Identical integer math to the
    * oracle's exploded formulation.
    */
  /** The narrow in-row signature SELECT (see q22 Scaladoc) — also used
    * to materialize `sim_sig` for the LSH pipeline, replacing an 8-way
    * min aggregation over the exploded shingle table. Backed by the
    * native whole-stage-codegen kernel `graft_minhash`
    * (functions.MinHashSig): one fused walk over the document's UTF-8
    * bytes computes all 8 minima — no token array, no shingle strings,
    * no lambda interpretation. */
  private[graft] def sparkSigInline: String = sigInlineSql("documents")

  /** [[sparkSigInline]] over any documents-shaped relation (the 10x
    * text-slope bench rows run the SAME signature stage over a
    * replicated corpus view). */
  private[graft] def sigInlineSql(docsRef: String,
      repartition: Boolean = true): String = {
    val cols = (1 to 8)
      .map(i => s"element_at(sig, $i) AS mh$i").mkString(",\n  ")
    // Round 16 (guide §2.3/§4.4), same rows out: the REPARTITION now
    // moves RAW text so the minhash kernel runs on every core (it
    // previously computed below its own exchange — the whole pass sat
    // in the single scan task of a one-file table), and the
    // one-element-array Generate barrier pins the kernel to ONE
    // evaluation per row (the pushed-down `sig IS NOT NULL` used to
    // re-evaluate it: filters cannot cross a Generate, and
    // size(array(e)) > 0 constant-folds away instead of re-running e).
    // `repartition = false` for callers whose docsRef is already
    // spread (the slope views shuffle below their replica projection)
    // — a second round-robin of the same text is a pure extra
    // exchange.
    val inner =
      if (repartition)
        s"""SELECT ${Tables.spread(docsRef)} doc_id, text
           |  FROM $docsRef""".stripMargin
      else s"SELECT doc_id, text FROM $docsRef"
    s"""SELECT doc_id, $cols FROM (
       |  $inner)
       |LATERAL VIEW explode(array(graft_minhash(text))) g AS sig
       |WHERE sig IS NOT NULL""".stripMargin
  }

  /** Register the in-row minhash signature table as `sim_sig` (pinned
    * once per session+dir): q22 returns it directly and q23's banding
    * derives from the same blocks, so the signature pass over the
    * corpus runs ONCE however many similarity operators follow. */
  private[graft] def sigView(s: SparkSession, dir: String): Unit = {
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    materialize(s, dir, sparkSigInline, "sim_sig")
  }

  def q22_minhash_sig(s: SparkSession, dir: String): DataFrame = {
    sigView(s, dir)
    s.sql("SELECT * FROM sim_sig ORDER BY doc_id")
  }

  val q22_oracle: String =
    s"""WITH $duckShingleTok,
       |${sigBody("tok")}
       |SELECT * FROM sig ORDER BY doc_id""".stripMargin

  // ---- q23: LSH banding -> candidate pairs -> exact jaccard verify -----

  /** LSH pipeline over a shingle table `tokRef`. The exact-jaccard
    * verification joins shingles only against the (few) banding
    * candidates — never the full quadratic pair space. */
  private def lshBody(tokRef: String): String =
    s"""${sigBody(tokRef)},
       |${lshTail("sig", tokRef)}""".stripMargin

  /** Banding + candidate verification over existing sig/tok tables.
    * The verify jaccard is computed over shingle HASH sets (the same
    * md5-top-32-bit `hv` the signatures use), not shingle strings —
    * the standard at-scale form (8-byte set elements instead of
    * ~25-byte strings). A hash collision merges the same two shingles
    * in BOTH engines, so cross-engine equality is exact by
    * construction. */
  /** The LSH CTE chain alone (bands/cand/sizes/inter, no final
    * SELECT) — the splice point for oracles that extend the pipeline
    * past the raw pair list (components, audits, cross-modal checks).
    * An explicit prefix means a future reformat of [[lshTail]]'s final
    * SELECT can never silently truncate a consumer's CTE chain, which
    * the old `.split("\nSELECT")(0)` surgery was vulnerable to. */
  private[graft] def lshCtes(sigRef: String, tokRef: String): String =
    s"""bands AS (
       |  SELECT doc_id, 1 AS band, mh1 AS x, mh2 AS y FROM $sigRef UNION ALL
       |  SELECT doc_id, 2, mh3, mh4 FROM $sigRef UNION ALL
       |  SELECT doc_id, 3, mh5, mh6 FROM $sigRef UNION ALL
       |  SELECT doc_id, 4, mh7, mh8 FROM $sigRef),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.x = b.x AND a.y = b.y
       |   AND a.doc_id < b.doc_id),
       |sizes AS (SELECT doc_id, count(DISTINCT hv) AS n FROM $tokRef
       |  GROUP BY doc_id),
       |inter AS (
       |  SELECT c.da, c.db, count(DISTINCT a.hv) AS cnt
       |  FROM cand c
       |  JOIN $tokRef a ON a.doc_id = c.da
       |  JOIN $tokRef b ON b.doc_id = c.db AND b.hv = a.hv
       |  GROUP BY c.da, c.db)""".stripMargin

  private[graft] def lshTail(sigRef: String, tokRef: String): String =
    s"""${lshCtes(sigRef, tokRef)}
       |SELECT c.da AS doc_a, c.db AS doc_b,
       |  round(cnt/(sa.n + sb.n - cnt), 4) AS jaccard
       |FROM cand c
       |JOIN inter i ON c.da = i.da AND c.db = i.db
       |JOIN sizes sa ON c.da = sa.doc_id
       |JOIN sizes sb ON c.db = sb.doc_id
       |ORDER BY doc_a, doc_b""".stripMargin

  /** banding + DISTINCT candidate pairs over an existing sig table —
    * cheap to evaluate repeatedly once `sigRef` is pinned (the band
    * rows are 4 narrow projections of the 9-column signature table).
    *
    * Self-join, not bucket-collect: both sides of the band join are
    * the same single-pass posexplode of the pinned signature table
    * (one scan emits all 4 band rows per doc), so the exchange is
    * planned once and reused (ReusedExchange) — measured faster than
    * the collect_list-bucket formulation, whose single aggregation
    * shuffle carries the same doc_id volume without the reuse. A
    * stop-bucket of B docs is B²/2 join rows in one task in either
    * form (same skew profile). */
  private def bandsCand(sigRef: String): String =
    s"""bands AS (
       |  SELECT doc_id, bpos AS band, bxy.x AS x, bxy.y AS y
       |  FROM $sigRef LATERAL VIEW posexplode(array(
       |    struct(mh1 AS x, mh2 AS y), struct(mh3 AS x, mh4 AS y),
       |    struct(mh5 AS x, mh6 AS y), struct(mh7 AS x, mh8 AS y)))
       |    b AS bpos, bxy),
       |cand AS (
       |  SELECT /*+ SHUFFLE_MERGE(a) */ DISTINCT
       |    a.doc_id AS da, b.doc_id AS db
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.x = b.x AND a.y = b.y
       |   AND a.doc_id < b.doc_id)""".stripMargin

  def q23_lsh_pairs(s: SparkSession, dir: String): DataFrame = {
    // signatures come from the shared pinned `sim_sig` (free when q22
    // already ran in this session)
    sigView(s, dir)
    // Banding + exact verify fused into ONE materialized query (one
    // checkpoint barrier, one planning pass — the separately pinned
    // sim_cand table cost a checkpoint + count-guard job and a driver
    // sync between the two halves, measured as ~1.3 s of the query's
    // wall at sf0.1 with 690 pairs):
    //  * `cand` (the 4-band self-join) is referenced once, by `pe0`;
    //    `pe0` feeds both the candidate-doc filter and the pair spine.
    //    Identical subtrees hit Spark's exchange reuse, so the band
    //    shuffle is computed once even where the subplan repeats.
    //  * Filter FIRST, shingle SECOND — the semi-join against the
    //    band-collision id set runs on the raw documents scan, so the
    //    expensive shingling only ever touches candidate docs; at
    //    corpus scale candidates are sparse, so nearly all shingling
    //    CPU is skipped. The REPARTITION pins full width so AQE's
    //    size-based coalescing can't serialize the CPU-heavy
    //    projection (profiled 11 s single-task at sf0.1 without it).
    //  * Shingle SETS are sorted hash arrays from the native
    //    `graft_shingles` kernel (one fused byte-walk, 8-byte
    //    elements), and the pair intersection is the native
    //    `graft_isect` linear merge — vs string arrays +
    //    array_intersect (hash-set build per pair, ~25-byte string
    //    elements through the exchange). Collisions hit both engines
    //    identically (same md5-top-32 hash), so the oracle stays an
    //    exact hash compare.
    //  * The band self-join is pinned to SHUFFLE_MERGE (round 16);
    //    every other join strategy is left to AQE: the candidate
    //    id/pair sets are usually tiny but NOT bounded (a stop-band
    //    bucket of B docs is O(B²) pairs), and AQE sees the band
    //    shuffle's actual size at runtime — it broadcasts while the
    //    set fits and falls back to a shuffle join past that. The
    //    self-join is the exception because symmetry is worth more
    //    than a broadcast: both sides become the IDENTICAL
    //    Exchange(hashpartitioning(band, x, y)), so AQE's stage reuse
    //    computes the signature+banding pass ONCE (ReusedExchange) —
    //    where the broadcast plan built the subtree twice (a second
    //    full corpus minhash pass when signatures are inline, as in
    //    the text_lsh slope rows). At 100 TB the band table cannot
    //    broadcast anyway, so the pinned strategy is also the
    //    at-scale plan.
    //  * Each pair explodes into its two doc slots, one join attaches
    //    the shingle arrays, and a (da, db) regroup reassembles both
    //    sides — half the array-table lookups of a two-join shape.
    //  * `cnt > 0` mirrors lshTail's inner join against `inter` (a
    //    band collision sharing no shingle yields no pair).
    // The pinned result is reused by q54 components / q55 dedup.
    materialize(s, dir,
      s"""WITH ${lshPairCtes("documents", "sim_sig")}
         |$lshPairSelect""".stripMargin,
      "sim_pairs")
    s.sql("SELECT * FROM sim_pairs ORDER BY doc_a, doc_b")
  }

  /** The fused banding + exact-verify CTE chain of [[q23_lsh_pairs]],
    * parameterized over the documents relation and the signature
    * table so the 10x text-slope bench rows time the IDENTICAL stage
    * over a replicated corpus view. */
  private[graft] def lshPairCtes(docsRef: String,
      sigRef: String): String =
    s"""${bandsCand(sigRef)},
       |pe0 AS (
       |  SELECT da, db, slot, doc_id
       |  FROM cand LATERAL VIEW posexplode(array(da, db))
       |    AS slot, doc_id),
       |cdoc AS (
       |  SELECT ${Tables.spread(docsRef, "doc_id")}
       |    d.doc_id, d.text
       |  FROM $docsRef d
       |  JOIN (SELECT DISTINCT doc_id FROM pe0) cd
       |    ON d.doc_id = cd.doc_id),
       |arrs AS (
       |  SELECT doc_id, ss FROM cdoc
       |  LATERAL VIEW explode(array(graft_shingles(text))) g AS ss
       |  WHERE ss IS NOT NULL),
       |pe AS (
       |  SELECT pe0.da, pe0.db, pe0.slot, a.ss
       |  FROM pe0 JOIN arrs a ON pe0.doc_id = a.doc_id),
       |g AS (
       |  SELECT da, db,
       |    first(if(slot = 0, ss, null), true) AS sa,
       |    first(if(slot = 1, ss, null), true) AS sb
       |  FROM (SELECT /*+ REPARTITION(${Tables.np}, da, db) */ * FROM pe)
       |  GROUP BY da, db),
       |j AS (
       |  SELECT da, db, graft_isect(sa, sb) AS cnt,
       |    size(sa) AS na, size(sb) AS nb FROM g)""".stripMargin

  private[graft] val lshPairSelect: String =
    """SELECT da AS doc_a, db AS doc_b,
      |  round(cnt/(na + nb - cnt), 4) AS jaccard
      |FROM j WHERE cnt > 0""".stripMargin

  val q23_oracle: String =
    s"WITH $duckShingleTok,\n${lshBody("tok")}"

  // ---- q24: exact n-gram jaccard similarity join -----------------------

  /** Max document frequency for a shingle to generate candidate
    * pairs: a stop-shingle shared by 10^6 docs would otherwise explode
    * the inverted-index join quadratically. Pairs sharing ONLY
    * frequent shingles are (deterministically, in both engines)
    * missed; the exact jaccard of surviving candidates still counts
    * every shingle. */
  val MaxShingleDf = 100

  private def jaccardBody(tokRef: String): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM $tokRef GROUP BY doc_id),
       |rare AS (
       |  SELECT t.doc_id, t.s FROM $tokRef t JOIN (
       |    SELECT s FROM $tokRef GROUP BY s
       |    HAVING count(*) <= $MaxShingleDf) f ON t.s = f.s),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM rare a JOIN rare b
       |    ON a.s = b.s AND a.doc_id < b.doc_id),
       |inter AS (
       |  SELECT c.da, c.db, count(*) AS cnt
       |  FROM cand c
       |  JOIN $tokRef a ON a.doc_id = c.da
       |  JOIN $tokRef b ON b.doc_id = c.db AND b.s = a.s
       |  GROUP BY c.da, c.db)
       |SELECT da AS doc_a, db AS doc_b,
       |  round(cnt/(sa.n + sb.n - cnt), 4) AS jaccard
       |FROM inter JOIN sizes sa ON da = sa.doc_id
       |JOIN sizes sb ON db = sb.doc_id
       |WHERE cnt/(sa.n + sb.n - cnt) >= 0.05
       |ORDER BY doc_a, doc_b""".stripMargin

  def q24_ngram_jaccard(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    materialize(s, dir, sparkShingleSelect, "sim_tok")
    s.sql(s"WITH ${jaccardBody("sim_tok")}")
  }

  val q24_oracle: String =
    s"WITH $duckShingleTok,\n${jaccardBody("tok")}"

  // ---- q122: LSH quality audit -----------------------------------------

  /** shared audit tail over (hash-based) truth vs LSH pair sets —
    * the truth side is the exhaustive frequency-capped candidate join
    * (q24's shape), the LSH side is the banding pipeline's verified
    * pairs; both use the same hash-set jaccard at the same 0.3
    * threshold, so the gap measured is EXACTLY the banding's recall
    * loss (pairs whose signatures collide in no band). */
  private def auditTail(tokRef: String, lshRef: String): String =
    s"""sizesT AS (SELECT doc_id, count(DISTINCT hv) AS n
       |  FROM $tokRef GROUP BY doc_id),
       |rare AS (
       |  SELECT t.doc_id, t.hv FROM $tokRef t JOIN (
       |    SELECT hv FROM $tokRef GROUP BY hv
       |    HAVING count(*) <= $MaxShingleDf) f ON t.hv = f.hv),
       |candT AS (
       |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
       |  FROM rare a JOIN rare b
       |    ON a.hv = b.hv AND a.doc_id < b.doc_id),
       |interT AS (
       |  SELECT c.da, c.db, count(DISTINCT a.hv) AS cnt
       |  FROM candT c
       |  JOIN $tokRef a ON a.doc_id = c.da
       |  JOIN $tokRef b ON b.doc_id = c.db AND b.hv = a.hv
       |  GROUP BY c.da, c.db),
       |truth AS (
       |  SELECT i.da, i.db FROM interT i
       |  JOIN sizesT sa ON i.da = sa.doc_id
       |  JOIN sizesT sb ON i.db = sb.doc_id
       |  WHERE round(cnt/(sa.n + sb.n - cnt), 4) >= 0.3),
       |hit AS (SELECT t.da FROM truth t
       |  JOIN $lshRef l ON t.da = l.da AND t.db = l.db)
       |SELECT (SELECT count(*) FROM truth) AS n_truth,
       |  (SELECT count(*) FROM $lshRef) AS n_lsh,
       |  (SELECT count(*) FROM hit) AS n_hit,
       |  round(cast((SELECT count(*) FROM hit) AS double)
       |    / nullif((SELECT count(*) FROM truth), 0), 4) + 0
       |    AS recall""".stripMargin

  /** LSH recall audit — the tuning measurement before trusting a
    * banding scheme at corpus scale (the shingle-side analog of
    * q107's ANN recall audit): exhaustive frequency-capped ground
    * truth at jaccard >= 0.3 vs the 4x2 banding pipeline's verified
    * pairs, recall = |hit| / |truth|. Both sides derive from pinned
    * intermediates (sim_tok, sim_pairs), so the audit costs two
    * bounded joins however often it reruns. */
  def q122_lsh_audit(s: SparkSession, dir: String): DataFrame = {
    q23_lsh_pairs(s, dir) // pins sim_sig + sim_pairs
    materialize(s, dir, sparkShingleSelect, "sim_tok")
    s.sql(
      s"""WITH lshp AS (SELECT doc_a AS da, doc_b AS db FROM sim_pairs
         |  WHERE jaccard >= 0.3),
         |${auditTail("sim_tok", "lshp")}""".stripMargin)
  }

  val q122_oracle: String =
    s"""WITH $duckShingleTok,
       |${sigBody("tok")},
       |${lshCtes("sig", "tok")},
       |lshp AS (
       |  SELECT i.da, i.db FROM inter i
       |  JOIN sizes sa ON i.da = sa.doc_id
       |  JOIN sizes sb ON i.db = sb.doc_id
       |  WHERE round(cnt/(sa.n + sb.n - cnt), 4) >= 0.3),
       |${auditTail("tok", "lshp")}""".stripMargin

  // ---- q25: brute-force cosine ANN top-k -------------------------------

  def q25_ann_cosine(s: SparkSession, dir: String): DataFrame =
    run(s, dir,
      """WITH q AS (SELECT cast(embedding AS array<double>) AS qe
        |  FROM embeddings WHERE vec_id = 0),
        |d AS (
        |  SELECT vec_id, label,
        |   aggregate(zip_with(cast(embedding AS array<double>), qe,
        |     (x,y) -> x*y), cast(0 AS double), (a,x) -> a+x) AS dot,
        |   aggregate(cast(embedding AS array<double>), cast(0 AS double),
        |     (a,x) -> a+x*x) AS na,
        |   aggregate(qe, cast(0 AS double), (a,x) -> a+x*x) AS nb
        |  FROM embeddings, q WHERE vec_id != 0)
        |SELECT vec_id, label,
        |  round(dot/(sqrt(na)*sqrt(nb)), 4) + 0 AS cos
        |FROM d ORDER BY dot/(sqrt(na)*sqrt(nb)) DESC, vec_id
        |LIMIT 20""".stripMargin)

  val q25_oracle: String =
    """WITH q AS (SELECT embedding::DOUBLE[] AS qe FROM embeddings
      |  WHERE vec_id = 0)
      |SELECT vec_id, label,
      |  round(list_cosine_similarity(embedding::DOUBLE[], qe), 4) + 0 AS cos
      |FROM embeddings, q WHERE vec_id != 0
      |ORDER BY list_cosine_similarity(embedding::DOUBLE[], qe) DESC, vec_id
      |LIMIT 20""".stripMargin

  // ---- q26: simhash fingerprints ---------------------------------------

  /** the exploded simhash formulation as a CTE chain ending in
    * `sh(doc_id, simhash)` — shared by q26's oracle and q152's
    * banding-join oracle */
  private def simhashCtes(hex: String => String, tokSplit: String,
      docsFrom: String, shr: (String, Int) => String): String = {
    val bitSums = (0 until 32).map(b =>
      s"sum(CASE WHEN (${shr("hv", b)} & 1) = 1 THEN 1 ELSE -1 END) AS b$b")
      .mkString(",\n  ")
    val recombine = (0 until 32).map(b =>
      s"(CASE WHEN b$b > 0 THEN ${1L << b} ELSE 0 END)").mkString(" + ")
    s"""tok AS (SELECT DISTINCT doc_id, tk FROM
       |  (SELECT doc_id, $tokSplit AS tk FROM $docsFrom)),
       |h AS (SELECT doc_id, ${hex("tk")} AS hv FROM tok),
       |bits AS (SELECT doc_id,
       |  $bitSums
       |FROM h GROUP BY doc_id),
       |sh AS (SELECT doc_id, $recombine AS simhash FROM bits)"""
      .stripMargin
  }

  private def simhashSql(hex: String => String, tokSplit: String,
      docsFrom: String, shr: (String, Int) => String): String =
    s"""WITH ${simhashCtes(hex, tokSplit, docsFrom, shr)}
       |SELECT doc_id, simhash FROM sh ORDER BY doc_id""".stripMargin

  /** Spark side computes the simhash with the native `graft_simhash`
    * kernel (functions.SimHashImpl): one fused walk over the raw
    * UTF-8 bytes hashes each distinct token and folds the 32 ±1 bit
    * votes — no explode, no distinct/groupBy shuffle, no interpreted
    * lambda chain; scan-speed at any corpus size. The integer math is
    * identical to the oracle's exploded formulation. */
  def q26_simhash(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    // repartition RAW text (round 16): with the hint above the kernel
    // projection the whole simhash pass ran inside the one-file
    // table's single scan task (guide §2.5 input skew)
    run(s, dir,
      s"""SELECT doc_id, graft_simhash(text) AS simhash FROM (
         |  SELECT ${Tables.spread("documents")} doc_id, text
         |  FROM documents)
         |ORDER BY doc_id""".stripMargin)
  }

  val q26_oracle: String = simhashSql(duckHex,
    "unnest(string_split(text,' '))", "documents",
    (e, b) => s"($e >> $b)")

  // ---- q152: simhash hamming-radius pair join --------------------------

  /** Simhash DEDUP JOIN — the operator q26's signatures exist for:
    * all document pairs within hamming distance 3 of each other,
    * found by pigeonhole byte-banding. The 32-bit simhash splits into
    * 4 byte bands; ≤ 3 differing bits can touch at most 3 bands, so
    * two docs within radius 3 ALWAYS agree on at least one band —
    * banding is EXACT at this radius, not approximate. Candidates
    * come from 4 band equi-joins (never an all-pairs product), with
    * the q24-style hot-bucket cutoff (a band value shared by > 64
    * docs generates no candidates — deterministic in both engines,
    * and the skipped buckets are degenerate near-collisions banding
    * exists to avoid); verification is one in-row popcount. The
    * signature is the in-row fold (no explode); only (doc, band)
    * rows shuffle. */
  def q152_simhash_pairs(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    // pin the signature table: a CTE would be INLINED into both sides
    // of the band self-join, running the signature pass over the
    // corpus twice (profiled 2.4 s with the pre-kernel lambda fold)
    materialize(s, dir,
      s"""SELECT doc_id, graft_simhash(text) AS simhash FROM (
         |  SELECT ${Tables.spread("documents")} doc_id, text
         |  FROM documents)""".stripMargin, "sim_simhash")
    s.sql(
      s"""WITH sh AS (SELECT doc_id, simhash FROM sim_simhash),
         |b AS (SELECT doc_id, simhash, i,
         |    shiftright(simhash, 8 * i) & 255 AS bv
         |  FROM sh LATERAL VIEW explode(array(0, 1, 2, 3)) t AS i),
         |bc AS (SELECT i, bv FROM b GROUP BY i, bv
         |  HAVING count(*) <= 64),
         |bb AS (SELECT b.doc_id, b.simhash, b.i, b.bv FROM b
         |  JOIN bc ON b.i = bc.i AND b.bv = bc.bv),
         |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
         |    x.simhash AS sa, y.simhash AS sb
         |  FROM bb x JOIN bb y ON x.i = y.i AND x.bv = y.bv
         |    AND x.doc_id < y.doc_id)
         |SELECT da AS doc_a, db AS doc_b,
         |  cast(bit_count(sa ^ sb) AS int) AS hamming
         |FROM cand WHERE bit_count(sa ^ sb) <= 3
         |ORDER BY doc_a, doc_b""".stripMargin)
  }

  val q152_oracle: String =
    s"""WITH ${simhashCtes(duckHex, "unnest(string_split(text,' '))",
         "documents", (e, b) => s"($e >> $b)")},
       |b AS (SELECT doc_id, simhash, i,
       |    (simhash >> (8 * i)) & 255 AS bv
       |  FROM sh, unnest([0, 1, 2, 3]) t(i)),
       |bc AS (SELECT i, bv FROM b GROUP BY i, bv
       |  HAVING count(*) <= 64),
       |bb AS (SELECT b.doc_id, b.simhash, b.i, b.bv FROM b
       |  JOIN bc ON b.i = bc.i AND b.bv = bc.bv),
       |cand AS (SELECT DISTINCT x.doc_id AS da, y.doc_id AS db,
       |    x.simhash AS sa, y.simhash AS sb
       |  FROM bb x JOIN bb y ON x.i = y.i AND x.bv = y.bv
       |    AND x.doc_id < y.doc_id)
       |SELECT da AS doc_a, db AS doc_b,
       |  bit_count(xor(sa, sb))::INT AS hamming
       |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
       |ORDER BY doc_a, doc_b""".stripMargin

  // ---- q157: asymmetric containment scoring ----------------------------

  /** Asymmetric CONTAINMENT scoring of the candidate pairs — the
    * quote-detection metric symmetric jaccard misses: C = |A∩B| /
    * min(|A|,|B|) is high when a small document is quoted nearly
    * whole inside a large one even though jaccard stays low (the
    * union is dominated by the big doc). Scored over the same LSH
    * candidate set as q23 (never all-pairs), from the pinned
    * `sim_tok` shingle table deduped to hash grain (count(DISTINCT
    * hv) — the oracle's `sizes`/`inter` semantics exactly);
    * containment is exact integer permille. On THIS synthetic corpus
    * no pair is contained-but-not-similar (the audit's finding); the
    * metric is the operator. */
  def q157_containment(s: SparkSession, dir: String): DataFrame = {
    q23_lsh_pairs(s, dir) // pins sim_pairs (candidate pairs + jaccard)
    tokView(s, dir)
    s.sql(
      """WITH ta AS (SELECT DISTINCT doc_id, hv FROM sim_tok),
        |sz AS (SELECT doc_id, count(*) AS n FROM ta GROUP BY doc_id),
        |i AS (SELECT p.doc_a, p.doc_b, p.jaccard, count(*) AS cnt
        |  FROM (SELECT doc_a, doc_b, jaccard FROM sim_pairs) p
        |  JOIN ta a ON a.doc_id = p.doc_a
        |  JOIN ta b ON b.doc_id = p.doc_b AND b.hv = a.hv
        |  GROUP BY 1, 2, 3)
        |SELECT i.doc_a, i.doc_b, i.jaccard,
        |  (i.cnt * 1000) div least(sa.n, sb.n) AS containment_permille,
        |  (i.cnt * 1000) div least(sa.n, sb.n) >= 800 AS contained
        |FROM i
        |JOIN sz sa ON sa.doc_id = i.doc_a
        |JOIN sz sb ON sb.doc_id = i.doc_b
        |ORDER BY doc_a, doc_b""".stripMargin)
  }

  val q157_oracle: String =
    s"""WITH $duckShingleTok,
       |${sigBody("tok")},
       |${lshCtes("sig", "tok")},
       |prs AS (SELECT c.da, c.db, i.cnt, sa.n AS na, sb.n AS nb,
       |    round(i.cnt/(sa.n + sb.n - i.cnt), 4) AS jaccard
       |  FROM cand c JOIN inter i ON c.da = i.da AND c.db = i.db
       |  JOIN sizes sa ON c.da = sa.doc_id
       |  JOIN sizes sb ON c.db = sb.doc_id
       |  WHERE i.cnt > 0)
       |SELECT da AS doc_a, db AS doc_b, jaccard,
       |  (cnt * 1000) // least(na, nb) AS containment_permille,
       |  (cnt * 1000) // least(na, nb) >= 800 AS contained
       |FROM prs ORDER BY doc_a, doc_b""".stripMargin

  // ---- q27: per-label embedding centroids ------------------------------

  def q27_centroids(s: SparkSession, dir: String): DataFrame =
    run(s, dir,
      """SELECT label, pos, round(avg(v), 4) + 0 AS mean_v
        |FROM embeddings
        |LATERAL VIEW posexplode(cast(embedding AS array<double>)) t AS pos, v
        |GROUP BY label, pos ORDER BY label, pos""".stripMargin)

  val q27_oracle: String =
    """SELECT label, pos, round(avg(v), 4) + 0 AS mean_v FROM (
      |  SELECT label, generate_subscripts(embedding, 1) - 1 AS pos,
      |    unnest(embedding::DOUBLE[]) AS v
      |  FROM embeddings)
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // ---- q147: n-gram novelty of an arriving batch -----------------------

  /** N-gram novelty scoring — the ingest-time curation gate a
    * continuously-growing corpus runs on every arriving batch: for
    * each new document (odd ids) the share of its distinct 3-gram
    * shingles NEVER seen in the existing corpus (even ids), in exact
    * integer permille (truncating division — no float path, so no
    * engine's rounding can flip a digit). Near-duplicates score ~0,
    * templated boilerplate scores low, genuinely new text scores
    * high; selection by novelty is the cheap complement to full
    * near-dup clustering. Derives from the SAME pinned `sim_tok`
    * shingle table as q22-q24 (the pass over text runs once per
    * session); the corpus side collapses to DISTINCT hv before the
    * equi-join — at 100 TB both sides shuffle once on hv (the
    * standard inverted-index join) and the per-doc aggregate
    * map-side combines. */
  def q147_ngram_novelty(s: SparkSession, dir: String): DataFrame = {
    tokView(s, dir)
    s.sql(
      """WITH newd AS (SELECT doc_id, hv FROM sim_tok
        |  WHERE doc_id % 2 = 1),
        |corp AS (SELECT DISTINCT hv FROM sim_tok WHERE doc_id % 2 = 0),
        |m AS (SELECT n.doc_id, count(*) AS total,
        |    count(c.hv) AS matched
        |  FROM newd n LEFT JOIN corp c ON n.hv = c.hv
        |  GROUP BY n.doc_id)
        |SELECT doc_id, total, matched,
        |  ((total - matched) * 1000) div total AS novelty_permille
        |FROM m ORDER BY doc_id""".stripMargin)
  }

  val q147_oracle: String =
    s"""WITH $duckShingleTok,
       |newd AS (SELECT doc_id, hv FROM tok WHERE doc_id % 2 = 1),
       |corp AS (SELECT DISTINCT hv FROM tok WHERE doc_id % 2 = 0),
       |m AS (SELECT n.doc_id, count(*) AS total,
       |    count(c.hv) AS matched
       |  FROM newd n LEFT JOIN corp c ON n.hv = c.hv
       |  GROUP BY n.doc_id)
       |SELECT doc_id, total::BIGINT AS total, matched::BIGINT AS matched,
       |  ((total - matched) * 1000) // total AS novelty_permille
       |FROM m ORDER BY doc_id""".stripMargin

  // ---- q149: cross-source near-duplication matrix ----------------------

  /** Cross-source near-duplication matrix — the curation question
    * behind source weighting: how much of each source near-duplicates
    * each other source. The confirmed LSH pair set (same ≥ 0.3 gate
    * as the dedup pipeline) joins the corpus twice for source labels,
    * orientation-normalized with least/greatest so (A,B) and (B,A)
    * land in one cell. The pair table is orders of magnitude smaller
    * than the corpus and the source-label join broadcasts off the
    * pair side's distinct doc ids; the matrix itself is
    * sources² — constant-size. Derives from the pinned `sim_pairs`
    * table, so the LSH pipeline runs once per session. */
  def q149_source_overlap(s: SparkSession, dir: String): DataFrame = {
    q23_lsh_pairs(s, dir) // pins sim_pairs
    s.sql(
      """WITH p AS (SELECT doc_a, doc_b FROM sim_pairs
        |  WHERE jaccard >= 0.3),
        |lab AS (SELECT doc_id, source FROM documents),
        |m AS (SELECT least(sa.source, sb.source) AS src1,
        |    greatest(sa.source, sb.source) AS src2
        |  FROM p
        |  JOIN lab sa ON p.doc_a = sa.doc_id
        |  JOIN lab sb ON p.doc_b = sb.doc_id)
        |SELECT src1, src2, count(*) AS n_pairs
        |FROM m GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin)
  }

  val q149_oracle: String =
    s"""WITH $duckShingleTok,
       |${sigBody("tok")},
       |${lshCtes("sig", "tok")},
       |p AS (
       |  SELECT c.da AS doc_a, c.db AS doc_b
       |  FROM cand c
       |  JOIN inter i ON c.da = i.da AND c.db = i.db
       |  JOIN sizes sa ON c.da = sa.doc_id
       |  JOIN sizes sb ON c.db = sb.doc_id
       |  WHERE cnt > 0
       |    AND round(cnt/(sa.n + sb.n - cnt), 4) >= 0.3),
       |m AS (SELECT least(da.source, db.source) AS src1,
       |    greatest(da.source, db.source) AS src2
       |  FROM p
       |  JOIN documents da ON p.doc_a = da.doc_id
       |  JOIN documents db ON p.doc_b = db.doc_id)
       |SELECT src1, src2, count(*)::BIGINT AS n_pairs
       |FROM m GROUP BY src1, src2 ORDER BY src1, src2""".stripMargin

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q149_source_overlap" -> q149_source_overlap _,
    "q152_simhash_pairs" -> q152_simhash_pairs _,
    "q157_containment" -> q157_containment _,
    "q147_ngram_novelty" -> q147_ngram_novelty _,
    "q22_minhash_sig" -> q22_minhash_sig _,
    "q23_lsh_pairs" -> q23_lsh_pairs _,
    "q24_ngram_jaccard" -> q24_ngram_jaccard _,
    "q25_ann_cosine" -> q25_ann_cosine _,
    "q26_simhash" -> q26_simhash _,
    "q27_centroids" -> q27_centroids _,
    "q122_lsh_audit" -> q122_lsh_audit _)

  val oracles: Map[String, String] = Map(
    "q149_source_overlap" -> q149_oracle,
    "q152_simhash_pairs" -> q152_oracle,
    "q157_containment" -> q157_oracle,
    "q147_ngram_novelty" -> q147_oracle,
    "q22_minhash_sig" -> q22_oracle,
    "q23_lsh_pairs" -> q23_oracle,
    "q24_ngram_jaccard" -> q24_oracle,
    "q25_ann_cosine" -> q25_oracle,
    "q26_simhash" -> q26_oracle,
    "q27_centroids" -> q27_oracle,
    "q122_lsh_audit" -> q122_oracle)
}
