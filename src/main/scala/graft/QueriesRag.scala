package graft

import graft.functions.Multimodal
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Retrieval / RAG-curation operators over the corpus tables: BM25
  * scoring off the shared inverted index, reciprocal-rank fusion of
  * two retrievers, MMR diversification of a candidate list, perceptual
  * image-hash dedup through the real JDK decoder, and tokenizer
  * fertility. Reference scope: lakota itself stops at series/frame
  * analytics — these are the retrieval-side operators a training-data
  * pipeline layers on top (cited shapes: Robertson & Zaragoza 2009 for
  * BM25, Cormack et al. 2009 for RRF, Carbonell & Goldstein 1998 for
  * MMR).
  *
  * Cross-engine determinism follows the house rules: every ranking
  * key is quantized to integer units BEFORE comparison/summation
  * (float summation order can never flip a rank), ties break on ids,
  * and the Spark and DuckDB texts compute double expressions with
  * identically-ordered operations.
  */
object QueriesRag {
  /** q128's per-call union pin: holds the live checkpoint so the NEXT
    * call can free the previous one (no cross-call result reuse — the
    * pin is rebuilt from scratch inside every timed call). */
  private val idxAllPin =
    new java.util.concurrent.atomic.AtomicReference[DataFrame](null)

  // ---- q113: BM25 "more-like-this" retrieval ---------------------------

  /** BM25 (k1 = 1.2, b = 0.75) of every document against the query
    * bag = doc 5's distinct terms, top-10. Derives entirely from the
    * shared `doc_terms` inverted index: document lengths and query
    * document frequencies are map-side-combined aggregates (the df
    * aggregate only counts the query's own terms — a broadcast
    * semi-join prunes the vocabulary before counting), scoring is one
    * pass over the index joined to the tiny df/length tables, and the
    * top-10 uses the two-stage sharded rank. At 100 TB the per-doc
    * length table no longer broadcasts — AQE degrades that join to a
    * doc_id-keyed shuffle, which is the natural shape. Per-term
    * scores are quantized to integer 1e-6 units before the per-doc
    * sum. */
  /** the whole q113 BM25 body over an arbitrary postings relation
    * (doc_id, lang, term, cnt) — q128 runs the SAME text over the
    * engine-stored + fresh posting union, so the incremental index
    * must reproduce the full rebuild bit-for-bit */
  private def bm25Sql(rel: String): String =
    // Round 17 (guide §2.4 duplicated subtrees): st aggregates the
    // postings DIRECTLY — sum(cnt) == the sum of the per-doc length
    // sums, count(DISTINCT doc_id) == the length-table row count,
    // identical bigints — so dl is single-referenced and InlineCTE no
    // longer clones the per-doc aggregate (the old st-FROM-dl shape
    // ran the corpus-sized doc_id aggregate twice, plan-verified).
    // Both stay map-side-combining aggregates; no global window.
    // count(DISTINCT doc_id) skips NULL while GROUP BY keeps a NULL
    // group, so ndl equals dl's row count only without NULL doc_ids:
    // both CTEs drop NULL-doc_id postings (no document owns them, and
    // the dl join never matches them), so the identity holds on any
    // postings relation, not just on today's NULL-free ones.
    s"""WITH dl AS (SELECT doc_id, sum(cnt) AS dl FROM $rel
       |        WHERE doc_id IS NOT NULL GROUP BY doc_id),
       |st AS (SELECT sum(cnt) AS sdl, count(DISTINCT doc_id) AS ndl
       |  FROM $rel WHERE doc_id IS NOT NULL),
       |n AS (SELECT count(*) AS n FROM documents),
       |qt AS (SELECT DISTINCT term FROM $rel WHERE doc_id = 5),
       |df AS (SELECT /*+ BROADCAST(qt) */ t.term, count(*) AS df
       |  FROM $rel t JOIN qt ON t.term = qt.term
       |  GROUP BY t.term),
       |sc AS (
       |  SELECT t.doc_id, t.lang,
       |    sum(cast(round(
       |      ln(1.0D + (n.n - df.df + 0.5D) / (df.df + 0.5D))
       |      * ((t.cnt * 2.2D) / (t.cnt
       |          + 1.2D * (0.25D + 0.75D * dl.dl * st.ndl / st.sdl)))
       |      * 1000000.0D, 0) AS bigint)) AS qsc
       |  FROM $rel t
       |  JOIN df ON t.term = df.term
       |  JOIN dl ON t.doc_id = dl.doc_id
       |  CROSS JOIN st CROSS JOIN n
       |  WHERE t.doc_id != 5
       |  GROUP BY t.doc_id, t.lang),
       |t1 AS (SELECT doc_id, lang, qsc FROM (
       |    SELECT doc_id, lang, qsc, row_number() OVER (
       |      PARTITION BY pmod(hash(doc_id), 16)
       |      ORDER BY qsc DESC, doc_id) AS rn
       |    FROM sc) WHERE rn <= 10)
       |SELECT doc_id, lang, cast(rn AS bigint) AS rank,
       |  round(qsc / 1000000.0D, 4) + 0 AS bm25
       |FROM (SELECT doc_id, lang, qsc, row_number() OVER (
       |        ORDER BY qsc DESC, doc_id) AS rn FROM t1)
       |WHERE rn <= 10 ORDER BY rank""".stripMargin

  def q113_bm25(s: SparkSession, dir: String): DataFrame = {
    QueriesPipe.termView(s, dir)
    s.sql(bm25Sql("doc_terms"))
  }

  val q113_oracle: String =
    """WITH w AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
      |  FROM documents),
      |wf AS (SELECT doc_id, lang, term, count(*) AS cnt
      |       FROM w GROUP BY 1, 2, 3),
      |dl AS (SELECT doc_id, sum(cnt) AS dl FROM wf GROUP BY doc_id),
      |st AS (SELECT sum(dl) AS sdl, count(*) AS ndl FROM dl),
      |n AS (SELECT count(*) AS n FROM documents),
      |qt AS (SELECT DISTINCT term FROM wf WHERE doc_id = 5),
      |df AS (SELECT t.term, count(*) AS df
      |  FROM wf t JOIN qt ON t.term = qt.term GROUP BY t.term),
      |sc AS (
      |  SELECT t.doc_id, t.lang,
      |    sum(round(
      |      ln(1.0 + (n.n - df.df + 0.5) / (df.df + 0.5))
      |      * ((t.cnt * 2.2) / (t.cnt
      |          + 1.2 * (0.25 + 0.75 * dl.dl * st.ndl / st.sdl)))
      |      * 1000000.0)::BIGINT) AS qsc
      |  FROM wf t
      |  JOIN df ON t.term = df.term
      |  JOIN dl ON t.doc_id = dl.doc_id
      |  CROSS JOIN st CROSS JOIN n
      |  WHERE t.doc_id != 5
      |  GROUP BY t.doc_id, t.lang)
      |SELECT doc_id, lang, rn AS rank,
      |  round(qsc / 1000000.0, 4) + 0 AS bm25
      |FROM (SELECT doc_id, lang, qsc, row_number() OVER (
      |        ORDER BY qsc DESC, doc_id) AS rn FROM sc)
      |WHERE rn <= 10 ORDER BY rank""".stripMargin

  // ---- q114: reciprocal-rank fusion ------------------------------------

  /** Reciprocal-rank fusion (RRF, Cormack et al. 2009) of two
    * retrievers over the embedding corpus for probe vector 0: the
    * cosine-similarity ranking and the euclidean-distance ranking
    * disagree exactly where vector norms vary, and RRF's
    * sum(1/(60+rank)) over each retriever's top-50 is the standard
    * zero-tuning way to combine them. Each ranking is the two-stage
    * sharded top-k; the fused score is pure integer math
    * (1e6 div (60+rank)), so both engines agree bit-for-bit. */
  def q114_rrf_fusion(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    s.sql(
      s"""WITH v AS (SELECT ${Tables.spread("embeddings")} vec_id,
         |    cast(embedding AS array<double>) AS e FROM embeddings),
         |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
         |sc AS (SELECT v.vec_id,
         |    cast(round(graft_cosine(v.e, qe) * 1000000.0D, 0)
         |      AS bigint) AS qcos,
         |    cast(round(aggregate(zip_with(v.e, qe,
         |        (x, y) -> (x - y) * (x - y)),
         |      cast(0 AS double), (a, x) -> a + x) * 1000000.0D, 0)
         |      AS bigint) AS qd2,
         |    pmod(hash(v.vec_id), 16) AS shard
         |  FROM v, q WHERE v.vec_id != 0),
         |ca1 AS (SELECT vec_id, qcos FROM (
         |    SELECT vec_id, qcos, row_number() OVER (
         |      PARTITION BY shard ORDER BY qcos DESC, vec_id) AS rn
         |    FROM sc) WHERE rn <= 50),
         |ca AS (SELECT vec_id, ra FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY qcos DESC, vec_id) AS ra FROM ca1)
         |  WHERE ra <= 50),
         |cb1 AS (SELECT vec_id, qd2 FROM (
         |    SELECT vec_id, qd2, row_number() OVER (
         |      PARTITION BY shard ORDER BY qd2 ASC, vec_id) AS rn
         |    FROM sc) WHERE rn <= 50),
         |cb AS (SELECT vec_id, rb FROM (
         |    SELECT vec_id, row_number() OVER (
         |      ORDER BY qd2 ASC, vec_id) AS rb FROM cb1)
         |  WHERE rb <= 50),
         |f AS (SELECT coalesce(ca.vec_id, cb.vec_id) AS vec_id,
         |    coalesce(1000000 DIV (60 + ca.ra), 0)
         |      + coalesce(1000000 DIV (60 + cb.rb), 0) AS qrrf,
         |    cast(ca.ra AS bigint) AS cos_rank,
         |    cast(cb.rb AS bigint) AS dist_rank
         |  FROM ca FULL OUTER JOIN cb ON ca.vec_id = cb.vec_id)
         |SELECT vec_id, cast(rn AS bigint) AS rank,
         |  round(qrrf / 1000000.0D, 6) + 0 AS rrf,
         |  cos_rank, dist_rank
         |FROM (SELECT *, row_number() OVER (
         |        ORDER BY qrrf DESC, vec_id) AS rn FROM f)
         |WHERE rn <= 10 ORDER BY rank""".stripMargin)
  }

  val q114_oracle: String =
    """WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
      |  FROM embeddings),
      |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
      |sc AS (SELECT v.vec_id,
      |    round(list_cosine_similarity(v.e, qe) * 1000000.0)::BIGINT
      |      AS qcos,
      |    round(list_sum(list_transform(range(1, len(v.e) + 1),
      |        i -> (v.e[i] - qe[i]) * (v.e[i] - qe[i])))
      |      * 1000000.0)::BIGINT AS qd2
      |  FROM v, q WHERE v.vec_id != 0),
      |ca AS (SELECT vec_id, ra FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY qcos DESC, vec_id) AS ra FROM sc)
      |  WHERE ra <= 50),
      |cb AS (SELECT vec_id, rb FROM (
      |    SELECT vec_id, row_number() OVER (
      |      ORDER BY qd2 ASC, vec_id) AS rb FROM sc)
      |  WHERE rb <= 50),
      |f AS (SELECT coalesce(ca.vec_id, cb.vec_id) AS vec_id,
      |    coalesce(1000000 // (60 + ca.ra), 0)
      |      + coalesce(1000000 // (60 + cb.rb), 0) AS qrrf,
      |    ca.ra AS cos_rank, cb.rb AS dist_rank
      |  FROM ca FULL OUTER JOIN cb ON ca.vec_id = cb.vec_id)
      |SELECT vec_id, rn AS rank,
      |  round(qrrf / 1000000.0, 6) + 0 AS rrf, cos_rank, dist_rank
      |FROM (SELECT *, row_number() OVER (
      |        ORDER BY qrrf DESC, vec_id) AS rn FROM f)
      |WHERE rn <= 10 ORDER BY rank""".stripMargin

  // ---- q115: MMR diversification ---------------------------------------

  /** Shared CTE-chain generator for the 5-step MMR unroll, emitted in
    * both dialects from ONE template so the arithmetic cannot drift.
    * Scores are exact integers: qrel/qsim are cosines quantized to
    * 1e-6 units, and the MMR objective (lambda=0.7) is kept as
    * 7*qrel - 3*maxsim — the same ORDER as the divided form with no
    * division, so truncate-vs-floor semantics never matter. */
  private def mmrSteps: String = (2 to 5).map { k =>
    s"""m$k AS (SELECT c.vec_id, 7 * c.qrel - 3 * max(s.qsim) AS qmmr
       |  FROM cand c
       |  JOIN sim s ON s.va = c.vec_id
       |  JOIN sel${k - 1} x ON s.vb = x.vec_id
       |  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel${k - 1})
       |  GROUP BY c.vec_id, c.qrel),
       |s$k AS (SELECT vec_id, qmmr FROM (
       |    SELECT vec_id, qmmr, row_number() OVER (
       |      ORDER BY qmmr DESC, vec_id) AS rn FROM m$k)
       |  WHERE rn = 1),
       |sel$k AS (SELECT vec_id FROM sel${k - 1}
       |  UNION ALL SELECT vec_id FROM s$k)""".stripMargin
  }.mkString(",\n")

  private def mmrFinal: String =
    (1 to 5).map(k =>
      s"SELECT cast($k AS bigint) AS step, vec_id, qmmr FROM s$k")
      .mkString("\n  UNION ALL ")

  /** Maximal-marginal-relevance diversification (Carbonell &
    * Goldstein 1998) of the cosine top-20 for probe vector 0: greedily
    * pick 5 results maximizing 0.7*relevance - 0.3*max-similarity to
    * the already-picked set — the standard de-redundancy pass on a
    * RAG retriever's output. The greedy loop is unrolled as 5 CTE
    * steps (each one window over the 20-row candidate table); the
    * candidate list and its 20x20 similarity matrix are the only
    * corpus-derived inputs, so corpus-side cost is one scan however
    * big the table is. */
  def q115_mmr_diversify(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    s.sql(
      s"""WITH v AS (SELECT ${Tables.spread("embeddings")} vec_id,
         |    cast(embedding AS array<double>) AS e FROM embeddings),
         |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
         |sc AS (SELECT v.vec_id,
         |    cast(round(graft_cosine(v.e, qe) * 1000000.0D, 0)
         |      AS bigint) AS qrel,
         |    pmod(hash(v.vec_id), 16) AS shard
         |  FROM v, q WHERE v.vec_id != 0),
         |t1 AS (SELECT vec_id, qrel FROM (
         |    SELECT vec_id, qrel, row_number() OVER (
         |      PARTITION BY shard ORDER BY qrel DESC, vec_id) AS rn
         |    FROM sc) WHERE rn <= 20),
         |cand AS (SELECT vec_id, qrel FROM (
         |    SELECT vec_id, qrel, row_number() OVER (
         |      ORDER BY qrel DESC, vec_id) AS rn FROM t1)
         |  WHERE rn <= 20),
         |cv AS (SELECT c.vec_id, v.e FROM cand c
         |  JOIN v ON c.vec_id = v.vec_id),
         |sim AS (SELECT a.vec_id AS va, b.vec_id AS vb,
         |    cast(round(graft_cosine(a.e, b.e) * 1000000.0D, 0)
         |      AS bigint) AS qsim
         |  FROM cv a JOIN cv b ON a.vec_id != b.vec_id),
         |s1 AS (SELECT vec_id, 7 * qrel AS qmmr FROM (
         |    SELECT vec_id, qrel, row_number() OVER (
         |      ORDER BY qrel DESC, vec_id) AS rn FROM cand)
         |  WHERE rn = 1),
         |sel1 AS (SELECT vec_id FROM s1),
         |$mmrSteps
         |SELECT step, vec_id,
         |  round(qmmr / 10000000.0D, 4) + 0 AS mmr
         |FROM ($mmrFinal)
         |ORDER BY step""".stripMargin)
  }

  val q115_oracle: String =
    s"""WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
       |  FROM embeddings),
       |q AS (SELECT e AS qe FROM v WHERE vec_id = 0),
       |sc AS (SELECT v.vec_id,
       |    round(list_cosine_similarity(v.e, qe) * 1000000.0)::BIGINT
       |      AS qrel
       |  FROM v, q WHERE v.vec_id != 0),
       |cand AS (SELECT vec_id, qrel FROM (
       |    SELECT vec_id, qrel, row_number() OVER (
       |      ORDER BY qrel DESC, vec_id) AS rn FROM sc)
       |  WHERE rn <= 20),
       |cv AS (SELECT c.vec_id, v.e FROM cand c
       |  JOIN v ON c.vec_id = v.vec_id),
       |sim AS (SELECT a.vec_id AS va, b.vec_id AS vb,
       |    round(list_cosine_similarity(a.e, b.e) * 1000000.0)::BIGINT
       |      AS qsim
       |  FROM cv a JOIN cv b ON a.vec_id != b.vec_id),
       |s1 AS (SELECT vec_id, 7 * qrel AS qmmr FROM (
       |    SELECT vec_id, qrel, row_number() OVER (
       |      ORDER BY qrel DESC, vec_id) AS rn FROM cand)
       |  WHERE rn = 1),
       |sel1 AS (SELECT vec_id FROM s1),
       |$mmrSteps
       |SELECT step, vec_id,
       |  round(qmmr / 10000000.0, 4) + 0 AS mmr
       |FROM ($mmrFinal)
       |ORDER BY step""".stripMargin

  // ---- q116: perceptual image-hash dedup -------------------------------

  /** Perceptual near-duplicate image grouping through the REAL
    * decoder: synthesize one 16x16 gradient PNG per document (pixel
    * values are a pure function of doc_id mod 256, so ids congruent
    * mod 256 yield byte-identical rasters), average-hash the decoded
    * pixels (8x8 brighter-than-mean bits — integer math end to end),
    * and group by hash. The oracle recomputes every pixel, cell sum
    * and hash bit from doc_id in closed form: a decoder that dropped
    * a row, mangled a channel or binned cells differently fails the
    * hash compare. mapPartitions batch shape as the other multimodal
    * decodes; the groupBy carries 8-byte hashes, never pixels. */
  /** Pre-builds the PNG payload fixture table (`phash_payloads`). The
    * payloads are TEST FIXTURES (this container ships no image corpus):
    * synthesized once per (session, dir), spread over the cores, and
    * PINNED via the shared materialize cache. In a real pipeline the
    * bytes arrive pre-existing from the corpus store, so Bench calls
    * this in its (untimed) warmup region — the q116 row then measures
    * decode+hash+groupBy, not fixture synthesis (round-6 verdict #5).
    * Verify and ad-hoc callers need no warmup: q116 itself calls this
    * first and simply pays the synthesis on the miss. */
  private[graft] def warmImageFixtures(s: SparkSession, dir: String): Unit = {
    import s.implicits._
    QueriesSim.materializeDf(s, dir, "phash_payloads") {
      Tables.table(s, dir, "documents")
        .select(col("doc_id").cast("long"))
        .repartition(Tables.np)
        .as[Long]
        .mapPartitions(_.map(id =>
          (id, Multimodal.MediaCodec.encodeGradientPng(id))))
        .toDF("doc_id", "payload")
    }
  }

  def q116_image_phash(s: SparkSession, dir: String): DataFrame = {
    warmImageFixtures(s, dir)
    Multimodal.aHashImages(s.table("phash_payloads"), "doc_id", "payload")
      .groupBy(col("ahash_hi"), col("ahash_lo"))
      .agg(count(lit(1)).as("n_dups"), min(col("doc_id")).as("keep_id"))
      .orderBy(col("keep_id"))
  }

  val q116_oracle: String =
    """WITH px AS (
      |  SELECT d.doc_id, x, y,
      |    (d.doc_id + 16 * x + 7 * y) % 256 AS g
      |  FROM documents d, range(0, 16) t1(x), range(0, 16) t2(y)),
      |cell AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS b,
      |    sum(g) AS cs, count(*) AS cn
      |  FROM px GROUP BY doc_id, (y // 2) * 8 + (x // 2)),
      |tot AS (SELECT doc_id, sum(g) AS ts, count(*) AS tn
      |  FROM px GROUP BY doc_id),
      |bits AS (SELECT c.doc_id, c.b,
      |    CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
      |  FROM cell c JOIN tot t ON c.doc_id = t.doc_id),
      |h AS (SELECT doc_id,
      |    sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32))
      |        ELSE 0 END)::BIGINT AS ahash_hi,
      |    sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b)
      |        ELSE 0 END)::BIGINT AS ahash_lo
      |  FROM bits GROUP BY doc_id)
      |SELECT ahash_hi, ahash_lo, count(*)::BIGINT AS n_dups,
      |  min(doc_id) AS keep_id
      |FROM h GROUP BY ahash_hi, ahash_lo ORDER BY keep_id""".stripMargin

  // ---- q117: tokenizer fertility ---------------------------------------

  /** Tokenizer fertility per language: BPE-ish regex tokens per
    * whitespace word, and characters per regex token — the
    * tokenizer-fit numbers (a fertility far above ~1.3 on a language
    * flags a vocabulary that fragments it, inflating training cost).
    * One in-row projection + one map-side-combined aggregate; the
    * only division happens on the final 5-row table. */
  def q117_tok_fertility(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      """SELECT lang,
        |  sum(bpe) AS total_bpe, sum(ws) AS total_ws,
        |  round(sum(bpe) * 1.0D / sum(ws), 6) + 0 AS fertility,
        |  round(sum(chars) * 1.0D / sum(bpe), 6) + 0 AS chars_per_tok
        |FROM (SELECT lang,
        |    size(regexp_extract_all(lower(text),
        |      '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS bpe,
        |    size(split(text, ' ', -1)) AS ws,
        |    length(text) AS chars
        |  FROM documents)
        |GROUP BY lang ORDER BY lang""".stripMargin)
  }

  val q117_oracle: String =
    """SELECT lang,
      |  sum(bpe)::BIGINT AS total_bpe, sum(ws)::BIGINT AS total_ws,
      |  round(sum(bpe) * 1.0 / sum(ws), 6) + 0 AS fertility,
      |  round(sum(chars) * 1.0 / sum(bpe), 6) + 0 AS chars_per_tok
      |FROM (SELECT lang,
      |    len(regexp_extract_all(lower(text),
      |      '[a-z]+|[0-9]+|[^a-z0-9 ]', 0)) AS bpe,
      |    len(string_split(text, ' ')) AS ws,
      |    len(text) AS chars
      |  FROM documents)
      |GROUP BY lang ORDER BY lang""".stripMargin

  // ---- q118: incremental dedup against engine-stored signatures --------

  /** Shared tail: flag each new-batch document as an exact duplicate
    * (fingerprint match) or near duplicate (band-collision candidates
    * verified at >= 6/8 minhash agreement) of the STORED corpus.
    * Emitted for both dialects from one template; only the two input
    * relation names differ. The band join is 4 equi-joins + UNION —
    * never an OR-join (which plans as a nested loop). */
  private def incTail(newT: String, storedT: String): String = {
    val bands = Seq((1, 2), (3, 4), (5, 6), (7, 8)).map { case (x, y) =>
      s"""SELECT n.doc_id AS nd, c.doc_id AS cd FROM $newT n
         |    JOIN $storedT c ON n.mh$x = c.mh$x AND n.mh$y = c.mh$y"""
        .stripMargin
    }.mkString("\n    UNION ALL ")
    val agree = (1 to 8).map(i =>
      s"CASE WHEN n.mh$i = c.mh$i THEN 1 ELSE 0 END").mkString(" + ")
    s"""ex AS (
       |  SELECT n.doc_id, min(c.doc_id) AS mid, count(*) AS nm
       |  FROM $newT n JOIN $storedT c ON n.fp = c.fp
       |  GROUP BY n.doc_id),
       |cand AS (SELECT DISTINCT nd, cd FROM (
       |    $bands)),
       |nr AS (
       |  SELECT ca.nd AS doc_id, min(ca.cd) AS mid, count(*) AS nm
       |  FROM cand ca
       |  JOIN $newT n ON n.doc_id = ca.nd
       |  JOIN $storedT c ON c.doc_id = ca.cd
       |  WHERE ($agree) >= 6
       |  GROUP BY ca.nd)
       |SELECT n.doc_id,
       |  CASE WHEN e.doc_id IS NOT NULL THEN 'exact' ELSE 'near' END
       |    AS kind,
       |  coalesce(e.mid, r.mid) AS match_id,
       |  coalesce(e.nm, r.nm) AS n_matches
       |FROM $newT n
       |LEFT JOIN ex e ON n.doc_id = e.doc_id
       |LEFT JOIN nr r ON n.doc_id = r.doc_id
       |WHERE e.doc_id IS NOT NULL OR r.doc_id IS NOT NULL
       |ORDER BY n.doc_id""".stripMargin
  }

  /** Incremental dedup with the signature index IN THE VERSIONED
    * STORE: the even-id half of the corpus is the "already ingested"
    * state — its md5 fingerprints and native-kernel minhash signatures
    * are written through the graft series engine (doc_id-indexed) and
    * read back through the manifest — and the odd-id half is the "new
    * batch" deduped against that stored state. This is the
    * engine+pipeline integration a growing 100 TB corpus runs on every
    * ingest: signature state lives in the versioned store (time
    * travel, overlays, GC all apply), the new batch never joins the
    * raw old corpus, and the near-dup check is banding + >= 6/8
    * signature agreement, never all-pairs. The DuckDB oracle
    * recomputes both halves directly — a broken engine round trip
    * (lost rows, mangled columns) fails the hash. */
  def q118_incremental_dedup(s: SparkSession, dir: String): DataFrame = {
    import graft.api.Repo
    import graft.core.GSchema
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    val root = java.nio.file.Files
      .createTempDirectory("graft-inc").toString
    val schema = GSchema(Seq("doc_id" -> "int*", "fp" -> "str") ++
      (1 to 8).map(i => s"mh$i" -> "int"): _*)
    val sr = new Repo(root, s).createCollection(schema, "sigidx")
      .series("_")
    val sigs = s.sql(
      """SELECT doc_id, md5(text) AS fp, graft_minhash(text) AS sig
        |FROM documents""".stripMargin)
      .selectExpr(Seq("doc_id", "fp") ++
        (1 to 8).map(i => s"element_at(sig, $i) AS mh$i"): _*)
    sr.write(sigs.filter("doc_id % 2 = 0"))
    sr.frame().createOrReplaceTempView("graft_inc_stored")
    sigs.filter("doc_id % 2 = 1")
      .createOrReplaceTempView("graft_inc_new")
    s.sql(s"WITH ${incTail("graft_inc_new", "graft_inc_stored")}")
  }

  val q118_oracle: String =
    s"""WITH ${QueriesSim.duckShingleTok},
       |${QueriesSim.sigBody("tok")},
       |d AS (SELECT doc_id, md5(text) AS fp FROM documents),
       |stored AS (
       |  SELECT d.doc_id, d.fp, s.mh1, s.mh2, s.mh3, s.mh4,
       |    s.mh5, s.mh6, s.mh7, s.mh8
       |  FROM d LEFT JOIN sig s ON d.doc_id = s.doc_id
       |  WHERE d.doc_id % 2 = 0),
       |nw AS (
       |  SELECT d.doc_id, d.fp, s.mh1, s.mh2, s.mh3, s.mh4,
       |    s.mh5, s.mh6, s.mh7, s.mh8
       |  FROM d LEFT JOIN sig s ON d.doc_id = s.doc_id
       |  WHERE d.doc_id % 2 = 1),
       |${incTail("nw", "stored")}""".stripMargin

  // ---- q119: RAG context assembly --------------------------------------

  /** Retrieval-context assembly — the last mile of a RAG pipeline:
    * score every 50-token chunk (q73's chunk grid) by its distinct
    * overlap with the query bag (doc 5's terms), take the top-50
    * candidates via the two-stage sharded rank, then pack chunks in
    * rank order under a 256-token context budget (a running-sum
    * window over the 50-row candidate list — bounded, never the
    * corpus). Integer scores and token counts end to end. */
  def q119_context_pack(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    s.sql(
      s"""WITH t AS (SELECT doc_id, split(text, ' ', -1) AS w FROM (
         |    SELECT ${Tables.spread("documents")} doc_id, text
         |    FROM documents WHERE doc_id != 5)),
         |c AS (SELECT doc_id, w,
         |    explode(sequence(1, greatest(1, size(w) - 25), 25)) AS st
         |  FROM t),
         |ch AS (SELECT doc_id,
         |    cast((st - 1) div 25 AS bigint) AS chunk_id,
         |    cast(size(slice(w, st, 50)) AS bigint) AS n_tok,
         |    array_distinct(slice(w, st, 50)) AS toks
         |  FROM c),
         |qb AS (SELECT collect_set(term) AS qarr FROM (
         |    SELECT DISTINCT explode(split(text, ' ', -1)) AS term
         |    FROM documents WHERE doc_id = 5)),
         |sc AS (SELECT doc_id, chunk_id, n_tok,
         |    cast(size(array_intersect(toks, qb.qarr)) AS bigint)
         |      AS score,
         |    pmod(hash(doc_id, chunk_id), 16) AS shard
         |  FROM ch, qb),
         |t1 AS (SELECT doc_id, chunk_id, n_tok, score FROM (
         |    SELECT *, row_number() OVER (PARTITION BY shard
         |      ORDER BY score DESC, doc_id, chunk_id) AS rn
         |    FROM sc WHERE score > 0) WHERE rn <= 50),
         |cand AS (SELECT doc_id, chunk_id, n_tok, score, rk FROM (
         |    SELECT *, row_number() OVER (
         |      ORDER BY score DESC, doc_id, chunk_id) AS rk FROM t1)
         |  WHERE rk <= 50),
         |asm AS (SELECT *, sum(n_tok) OVER (
         |    ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM cand)
         |SELECT cast(rk AS bigint) AS rank, doc_id, chunk_id, n_tok,
         |  cast(cum AS bigint) AS cum_tok, score
         |FROM asm WHERE cum <= 256 ORDER BY rank""".stripMargin)
  }

  val q119_oracle: String =
    """WITH t AS (SELECT doc_id, string_split(text, ' ') AS w
      |  FROM documents WHERE doc_id != 5),
      |c AS (SELECT doc_id, w,
      |    unnest(range(1, greatest(1, len(w) - 25) + 1, 25)) AS st
      |  FROM t),
      |ch AS (SELECT doc_id,
      |    ((st - 1) // 25)::BIGINT AS chunk_id,
      |    len(w[st:st+49])::BIGINT AS n_tok,
      |    list_distinct(w[st:st+49]) AS toks
      |  FROM c),
      |qb AS (SELECT list(DISTINCT term) AS qarr FROM (
      |    SELECT unnest(string_split(text, ' ')) AS term
      |    FROM documents WHERE doc_id = 5)),
      |sc AS (SELECT doc_id, chunk_id, n_tok,
      |    len(list_intersect(toks, qb.qarr))::BIGINT AS score
      |  FROM ch, qb),
      |cand AS (SELECT doc_id, chunk_id, n_tok, score, rk FROM (
      |    SELECT *, row_number() OVER (
      |      ORDER BY score DESC, doc_id, chunk_id) AS rk
      |    FROM sc WHERE score > 0)
      |  WHERE rk <= 50),
      |asm AS (SELECT *, sum(n_tok) OVER (
      |    ORDER BY rk ROWS UNBOUNDED PRECEDING) AS cum
      |  FROM cand)
      |SELECT rk AS rank, doc_id, chunk_id, n_tok,
      |  cum::BIGINT AS cum_tok, score
      |FROM asm WHERE cum <= 256 ORDER BY rank""".stripMargin

  // ---- q124: WebDataset tar sharding -----------------------------------

  /** WebDataset-style shard delivery — pack every document into
    * per-shard POSIX tar archives (the format large-scale training
    * loaders stream), fully distributed: executors write their
    * shards' deterministic tar bytes straight to the store, no sample
    * touches the driver. The emitted manifest carries each shard's
    * ACTUAL on-store byte size, and the oracle computes the expected
    * size in closed form (512-byte header + payload padded to 512
    * per sample + the 1024-byte trailer) — a writer that misplaces
    * one header, pad block or sample fails the hash. */
  def q124_webdataset_shards(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.WebDataset
    Tables.registerAll(s, dir)
    val out = java.nio.file.Files
      .createTempDirectory("graft-wds").toString
    WebDataset.writeShards(s.sql(
      """SELECT lpad(cast(doc_id AS string), 8, '0') AS key,
        |  cast(text AS binary) AS payload,
        |  cast(doc_id % 4 AS int) AS shard
        |FROM documents""".stripMargin), out)
    WebDataset.shardManifest(s, out)
      .createOrReplaceTempView("graft_wds_manifest")
    s.sql(
      """SELECT m.shard, c.n_docs, m.tar_bytes
        |FROM graft_wds_manifest m JOIN (
        |  SELECT doc_id % 4 AS shard, count(*) AS n_docs
        |  FROM documents GROUP BY 1) c
        |ON m.shard = c.shard ORDER BY m.shard""".stripMargin)
  }

  val q124_oracle: String =
    """SELECT (doc_id % 4)::BIGINT AS shard,
      |  count(*)::BIGINT AS n_docs,
      |  (sum(512 + ((octet_length(encode(text)) + 511) // 512) * 512)
      |    + 1024)::BIGINT AS tar_bytes
      |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin

  // ---- q125: cross-modal consistency audit -----------------------------

  /** Cross-modal consistency — for every verified TEXT near-dup pair,
    * do the two documents' IMAGES also match? Disagreement ("same
    * text, different image") is the curation flag for mispaired
    * multimodal samples. Composes two existing pipelines: the pinned
    * LSH pair set supplies the text side, and the perceptual hash of
    * the REALLY-decoded gradient PNG supplies the image side — but
    * only for documents that appear in a pair (the semi-join runs
    * before any pixel is synthesized or decoded, so image work is
    * bounded by the pair set however big the corpus is). */
  def q125_crossmodal_audit(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    QueriesSim.q23_lsh_pairs(s, dir) // pins sim_pairs
    val pairDocs = s.sql(
      """SELECT DISTINCT doc_id FROM (
        |  SELECT doc_a AS doc_id FROM sim_pairs
        |  UNION ALL SELECT doc_b FROM sim_pairs)""".stripMargin)
    val payloads = pairDocs.select(col("doc_id").cast("long")).as[Long]
      .mapPartitions(_.map(id =>
        (id, Multimodal.MediaCodec.encodeGradientPng(id))))
      .toDF("doc_id", "payload")
    Multimodal.aHashImages(payloads, "doc_id", "payload")
      .toDF().createOrReplaceTempView("graft_pair_ahash")
    s.sql(
      """SELECT p.doc_a, p.doc_b, p.jaccard,
        |  (a.ahash_hi = b.ahash_hi AND a.ahash_lo = b.ahash_lo)
        |    AS img_match
        |FROM sim_pairs p
        |JOIN graft_pair_ahash a ON p.doc_a = a.doc_id
        |JOIN graft_pair_ahash b ON p.doc_b = b.doc_id
        |ORDER BY p.doc_a, p.doc_b""".stripMargin)
  }

  val q125_oracle: String = {
    // closed-form image hash per doc (the q116 oracle's pixel math)
    val hashCtes =
      """px AS (
        |  SELECT d.doc_id, x, y,
        |    (d.doc_id + 16 * x + 7 * y) % 256 AS g
        |  FROM documents d, range(0, 16) t1(x), range(0, 16) t2(y)),
        |cell AS (SELECT doc_id, (y // 2) * 8 + (x // 2) AS b,
        |    sum(g) AS cs, count(*) AS cn
        |  FROM px GROUP BY doc_id, (y // 2) * 8 + (x // 2)),
        |tot AS (SELECT doc_id, sum(g) AS ts, count(*) AS tn
        |  FROM px GROUP BY doc_id),
        |bits AS (SELECT c.doc_id, c.b,
        |    CASE WHEN c.cs * t.tn >= t.ts * c.cn THEN 1 ELSE 0 END AS bit
        |  FROM cell c JOIN tot t ON c.doc_id = t.doc_id),
        |h AS (SELECT doc_id,
        |    sum(CASE WHEN b >= 32 THEN bit * (1::BIGINT << (b - 32))
        |        ELSE 0 END)::BIGINT AS hi,
        |    sum(CASE WHEN b < 32 THEN bit * (1::BIGINT << b)
        |        ELSE 0 END)::BIGINT AS lo
        |  FROM bits GROUP BY doc_id)""".stripMargin
    s"""WITH ${QueriesSim.duckShingleTok},
       |${QueriesSim.sigBody("tok")},
       |${QueriesSim.lshCtes("sig", "tok")},
       |prs AS (
       |  SELECT c.da AS doc_a, c.db AS doc_b,
       |    round(cnt/(sa.n + sb.n - cnt), 4) AS jaccard
       |  FROM cand c
       |  JOIN inter i ON c.da = i.da AND c.db = i.db
       |  JOIN sizes sa ON c.da = sa.doc_id
       |  JOIN sizes sb ON c.db = sb.doc_id
       |  WHERE cnt > 0),
       |$hashCtes
       |SELECT p.doc_a, p.doc_b, p.jaccard,
       |  (a.hi = b.hi AND a.lo = b.lo) AS img_match
       |FROM prs p
       |JOIN h a ON p.doc_a = a.doc_id
       |JOIN h b ON p.doc_b = b.doc_id
       |ORDER BY p.doc_a, p.doc_b""".stripMargin
  }

  // ---- q128: incremental inverted-index maintenance --------------------

  /** The retrieval index as VERSIONED ENGINE STATE: the even-id half's
    * postings (term-indexed: term*, doc_id*, lang, cnt) are written
    * through the graft series engine — sorted by term, so the manifest
    * prunes term-range lookups, and overlays/time-travel/GC all apply
    * to the index itself — and a new batch (the odd half) is indexed
    * at arrival by the native `graft_termcounts` kernel. BM25 then
    * runs over stored-postings UNION fresh-postings using the EXACT
    * q113 scoring text ([[bm25Sql]]): the oracle is q113's full
    * rebuild, so an incremental index that dropped a posting, mangled
    * a count in the engine round trip, or double-counted df fails the
    * hash. This is how a growing corpus keeps retrieval live without
    * re-tokenizing history — the stored half is never re-read as text,
    * only as its index. */
  def q128_incremental_index(s: SparkSession, dir: String): DataFrame = {
    import graft.api.Repo
    import graft.core.GSchema
    QueriesPipe.termView(s, dir)
    val root = java.nio.file.Files
      .createTempDirectory("graft-idx").toString
    val schema = GSchema("term" -> "str*", "doc_id" -> "int*",
      "lang" -> "str", "cnt" -> "int")
    val sr = new Repo(root, s).createCollection(schema, "postings")
      .series("_")
    sr.write(s.table("doc_terms").filter("doc_id % 2 = 0")
      .selectExpr("term", "doc_id", "lang", "cnt"))
    sr.frame().createOrReplaceTempView("graft_idx_stored")
    s.sql(
      """SELECT term, cast(doc_id AS bigint) AS doc_id, lang,
        |  cast(cnt AS bigint) AS cnt
        |FROM doc_terms WHERE doc_id % 2 = 1""".stripMargin)
      .createOrReplaceTempView("graft_idx_new")
    // bm25Sql consumes its postings relation FOUR times (dl, qt, df,
    // sc): pin the stored∪fresh union once per call (eager executor
    // checkpoint — one stored-parquet read + one fresh-half derive)
    // so the consumers scan pinned rows instead of re-deriving the
    // union per CTE. Pinned PER CALL, inside the timed region — the
    // previous call's blocks are released, nothing is reused across
    // bench reps (each rep still pays write + union + pin + query).
    locally {
      val union = s.sql(
        """SELECT doc_id, lang, term, cnt FROM graft_idx_stored
          |UNION ALL
          |SELECT doc_id, lang, term, cnt FROM graft_idx_new"""
          .stripMargin)
      // coalesce before pinning: the raw union inherits ~40 partitions
      // (stored files + the 32-way fresh half) of a 116k-row relation,
      // so every downstream CTE pays 40 task launches per scan x 4
      // scans; 8 pinned blocks keep the parallelism the data needs
      val pinned = union.coalesce(8).localCheckpoint()
      idxAllPin.getAndSet(pinned) match {
        case null => ()
        case prev => org.apache.spark.sql.GraftBridge
          .unpersistCheckpoint(prev)
      }
      pinned.createOrReplaceTempView("graft_idx_all")
    }
    s.sql(bm25Sql("graft_idx_all"))
  }

  /** the full-rebuild oracle IS q113's: incremental == rebuild */
  val q128_oracle: String = q113_oracle

  /** integer nDCG@10 discount table: D(p) = round(1e9 / log2(p+1))
    * and its prefix sums, embedded as LITERALS in both dialects so
    * neither engine evaluates a logarithm at query time (a 1-ulp
    * libm difference could flip a nano rounding). */
  private val ndcgD: Seq[Long] =
    (1 to 10).map(p => math.round(1e9 / (math.log(p + 1) / math.log(2))))
  private val ndcgP: Seq[Long] = ndcgD.scanLeft(0L)(_ + _).tail

  /** Retrieval-quality evaluation — nDCG@10 of the brute-force
    * cosine ranking against the stored labels (binary relevance:
    * neighbor shares the probe's label), per probe. This is the
    * EVAL half the retrieval stack (q113 BM25, q114 RRF, q115 MMR,
    * q107/q122 recall audits) reports into: the number a team
    * actually tracks when swapping index types. Shape: broadcast
    * probe table, two-stage sharded top-10 (never a global sort),
    * discount arithmetic entirely on integer literals; at 100 TB
    * the per-probe work is one scan + k-bounded ranks. */
  def q176_retrieval_ndcg(s: SparkSession, dir: String): DataFrame = {
    Tables.registerAll(s, dir)
    graft.functions.VectorFunctions.register(s)
    val dArr = ndcgD.mkString("array(", "L, ", "L)")
    val pArr = ndcgP.mkString("array(", "L, ", "L)")
    s.sql(
      s"""WITH v AS (SELECT ${Tables.spread("embeddings")} vec_id,
         |    label, cast(embedding AS array<double>) AS e
         |  FROM embeddings),
         |p AS (SELECT vec_id AS pid, label AS plabel, e AS pe FROM v
         |  WHERE vec_id % 37 = 0),
         |sc AS (SELECT /*+ BROADCAST(p) */ p.pid, p.plabel, v.vec_id,
         |    v.label,
         |    cast(round(graft_cosine(v.e, p.pe) * 1000000.0D, 0)
         |      AS bigint) AS qsim,
         |    pmod(hash(v.vec_id), 16) AS shard
         |  FROM v JOIN p ON v.vec_id != p.pid),
         |t1 AS (SELECT pid, plabel, vec_id, label, qsim FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY pid, shard ORDER BY qsim DESC, vec_id)
         |      AS rn FROM sc) WHERE rn <= 10),
         |top AS (SELECT pid, plabel, label, rn FROM (
         |    SELECT pid, plabel, label, row_number() OVER (
         |      PARTITION BY pid ORDER BY qsim DESC, vec_id) AS rn
         |    FROM t1) WHERE rn <= 10),
         |dcg AS (SELECT pid, plabel,
         |    sum(CASE WHEN label = plabel
         |      THEN element_at($dArr, cast(rn AS int)) ELSE 0L END)
         |      AS dcg_nano
         |  FROM top GROUP BY pid, plabel),
         |nr AS (SELECT label, count(*) AS n FROM v GROUP BY label)
         |SELECT d.pid, d.plabel AS label,
         |  nr.n - 1 AS n_rel, d.dcg_nano,
         |  (d.dcg_nano * 1000000) div element_at($pArr,
         |    cast(least(10L, nr.n - 1) AS int)) AS ndcg_ppm
         |FROM dcg d JOIN nr ON d.plabel = nr.label
         |WHERE nr.n > 1
         |ORDER BY d.pid""".stripMargin)
  }

  val q176_oracle: String = {
    val dArr = ndcgD.mkString("[", ", ", "]::BIGINT[]")
    val pArr = ndcgP.mkString("[", ", ", "]::BIGINT[]")
    s"""WITH v AS (SELECT vec_id, label, embedding::DOUBLE[] AS e
       |  FROM embeddings),
       |p AS (SELECT vec_id AS pid, label AS plabel, e AS pe FROM v
       |  WHERE vec_id % 37 = 0),
       |sc AS (SELECT p.pid, p.plabel, v.vec_id, v.label,
       |    round(list_cosine_similarity(v.e, p.pe)
       |      * 1000000.0)::BIGINT AS qsim
       |  FROM v JOIN p ON v.vec_id != p.pid),
       |top AS (SELECT pid, plabel, label, rn FROM (
       |    SELECT pid, plabel, label, row_number() OVER (
       |      PARTITION BY pid ORDER BY qsim DESC, vec_id) AS rn
       |    FROM sc) t WHERE rn <= 10),
       |dcg AS (SELECT pid, plabel,
       |    sum(CASE WHEN label = plabel
       |      THEN ($dArr)[rn] ELSE 0 END)::BIGINT AS dcg_nano
       |  FROM top GROUP BY pid, plabel),
       |nr AS (SELECT label, count(*)::BIGINT AS n FROM v
       |  GROUP BY label)
       |SELECT d.pid, d.plabel AS label,
       |  (nr.n - 1)::BIGINT AS n_rel, d.dcg_nano,
       |  ((d.dcg_nano * 1000000) // ($pArr)[least(10, nr.n - 1)])
       |    ::BIGINT AS ndcg_ppm
       |FROM dcg d JOIN nr ON d.plabel = nr.label
       |WHERE nr.n > 1
       |ORDER BY d.pid""".stripMargin
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q176_retrieval_ndcg" -> q176_retrieval_ndcg _,
    "q113_bm25" -> q113_bm25 _,
    "q114_rrf_fusion" -> q114_rrf_fusion _,
    "q115_mmr_diversify" -> q115_mmr_diversify _,
    "q116_image_phash" -> q116_image_phash _,
    "q117_tok_fertility" -> q117_tok_fertility _,
    "q118_incremental_dedup" -> q118_incremental_dedup _,
    "q119_context_pack" -> q119_context_pack _,
    "q124_webdataset_shards" -> q124_webdataset_shards _,
    "q128_incremental_index" -> q128_incremental_index _,
    "q125_crossmodal_audit" -> q125_crossmodal_audit _)

  val oracles: Map[String, String] = Map(
    "q176_retrieval_ndcg" -> q176_oracle,
    "q113_bm25" -> q113_oracle,
    "q114_rrf_fusion" -> q114_oracle,
    "q115_mmr_diversify" -> q115_oracle,
    "q116_image_phash" -> q116_oracle,
    "q117_tok_fertility" -> q117_oracle,
    "q118_incremental_dedup" -> q118_oracle,
    "q119_context_pack" -> q119_oracle,
    "q124_webdataset_shards" -> q124_oracle,
    "q125_crossmodal_audit" -> q125_oracle,
    "q128_incremental_index" -> q128_oracle)
}
