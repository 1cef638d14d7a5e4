package graft

import graft.api.Repo
import graft.core.{Closed, GSchema}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Physical-plan quality gates: the series read path must keep its
  * range bounds pushed into the graft scan and prune unselected
  * columns — the properties that make manifest-pruned reads scale.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("series range read pushes filters and prunes columns") {
    val root = Files.createTempDirectory("graft-plan").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("ts" -> "timestamp*", "event_id" -> "int*",
      "value" -> "float", "event_type" -> "str")
    val s = repo.createCollection(schema, "events").series("_")
    val ev = Tables.table(spark, "/root/testdata/sf0.001", "events")
      .select(col("ts"), col("event_id"), col("value"), col("event_type"))
    s.write(ev)

    val df = s.frame("2024-01-10 00:00:00", "2024-01-20 00:00:00",
      closed = Closed.Left, select = Seq("ts", "value"))
    val plan = df.queryExecution.executedPlan.toString

    // the bounds are pushed into the graft scan (its clips), so no
    // residual Filter runs above it
    val scan = "BatchScan [^\\n]*".r.findFirstIn(plan).getOrElse("")
    assert(scan.contains("bounds=(") && scan.contains("closed=Left"),
      plan.take(2000))
    assert("(^|[\\s)])Filter ".r.findFirstIn(plan).isEmpty, plan.take(2000))
    // column pruning: unselected columns absent from the scan output
    assert(scan.contains("ts#") && scan.contains("value#"), scan)
    assert(!scan.contains("event_type"), scan)
  }

  test("flagship join aggregates broadcast the dimension side") {
    val plan = Queries.q15_join_revenue(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("unclipped segments share one multi-file scan") {
    val root = Files.createTempDirectory("graft-plan3").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("timestamp" -> "int*", "value" -> "float")
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // force file segments to count scans
    val s = clct.series("_")
    // five disjoint writes -> five segments, none truncated
    (0 until 5).foreach(i => s.write(TestSpark.frame(
      Seq(100L * i, 100L * i + 1), Seq(i * 1.0, i * 1.0 + 0.5))))
    val plan = s.frame().queryExecution.executedPlan.toString
    val scans = "BatchScan".r.findAllIn(plan).length
    assert(scans == 1, s"expected 1 grouped scan, got $scans")
    assert(plan.contains("ColumnarToRow"), plan)
    assert(s.frame().count() == 10L)
  }

  test("a frame over more than 32 segment files runs no listing job") {
    val root = Files.createTempDirectory("graft-plan5").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("timestamp" -> "int*", "value" -> "float")
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // one segment file per append
    val s = clct.series("_")
    (0 until 40).foreach(i => s.write(TestSpark.frame(
      Seq(10L * i, 10L * i + 1), Seq(i * 1.0, i + 0.5))))
    assert(repo.store.walk("seg").count(_.endsWith(".parquet")) == 40)
    // Spark lists more than 32 paths with a distributed job; the
    // segment scan takes its file statuses from graft instead
    val (df, jobs, _) = TestSpark.work(s.frame())
    assert(jobs == 0, s"$jobs jobs while building the frame")
    assert("BatchScan".r.findAllIn(
      df.queryExecution.executedPlan.toString).length == 1)
    assert(df.orderBy("timestamp").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq ==
      (0 until 40).flatMap(i => Seq((10L * i, i * 1.0),
        (10L * i + 1, i + 0.5))))
  }

  test("tail plans an exact slice: no sort, no exchange") {
    val root = Files.createTempDirectory("graft-plan2").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("timestamp" -> "int*", "value" -> "float")
    val s = repo.createCollection(schema, "c").series("_")
    s.write(TestSpark.frame((1L to 100L).toSeq,
      (1 to 100).map(_ * 1.0)))
    val plan = s.tail(5).queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("Exchange") &&
      !plan.contains("TakeOrdered"), plan.take(1500))
    assert(s.tail(5).collect().map(_.getLong(0)).toSeq ==
      (96L to 100L))
  }

  test("a page plans one ordered task: no sort, no range exchange") {
    val root = Files.createTempDirectory("graft-plan6").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("timestamp" -> "int*", "value" -> "float")
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L
    val s = clct.series("_")
    (0 until 4).foreach(i => s.write(TestSpark.frame(
      (100L * i until 100L * i + 50).toSeq,
      (0 until 50).map(j => i + j * 0.01))))
    // an overlay splits the second segment: a page crosses the split
    s.write(TestSpark.frame(Seq(120L), Seq(-1.0)))
    val page = s.paginate(step = 60, start = 20L).next()
    page.collect()
    val plan = page.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort") && !plan.contains("Exchange"),
      plan.take(1500))
    assert(page.rdd.getNumPartitions == 1)
    assert(page.collect().map(_.getLong(0)).toSeq ==
      ((20L until 50L) ++ (100L until 130L)))
  }

  test("tail and limit scan only the manifest segments they need") {
    val root = Files.createTempDirectory("graft-plan4").toString
    val repo = new Repo(root, spark)
    val schema = GSchema("timestamp" -> "int*", "value" -> "float")
    val clct = repo.createCollection(schema, "c")
    clct.embedMaxSize = 0L // file segments so scans are countable
    val s = clct.series("_")
    (0 until 6).foreach(i => s.write(TestSpark.frame(
      Seq(100L * i, 100L * i + 1, 100L * i + 2),
      Seq(i * 1.0, i + 0.1, i + 0.2))))
    // tail(2) fits in the last segment -> exactly one scan
    def files(df: org.apache.spark.sql.DataFrame): Long = {
      val (_, m) = TestSpark.graftMetrics(df.collect())
      m("filesVectorized") + m("filesColumnar")
    }
    val tailPlan = s.tail(2).queryExecution.executedPlan.toString
    assert("BatchScan".r.findAllIn(tailPlan).length == 1, tailPlan.take(800))
    assert(files(s.tail(2)) == 1)
    assert(s.tail(2).collect().map(_.getLong(0)).toSeq == Seq(501L, 502L))
    // limit(3) covers the first segment only
    val limPlan = s.frame(limit = Some(3L))
      .queryExecution.executedPlan.toString
    assert("BatchScan".r.findAllIn(limPlan).length == 1, limPlan.take(800))
    assert(files(s.frame(limit = Some(3L))) == 1)
    assert(s.frame(limit = Some(3L)).collect().map(_.getLong(0)).toSeq ==
      Seq(0L, 1L, 2L))
  }

  test("stratified sample is a scan-time filter: no shuffle at all") {
    val plan = QueriesPipe
      .q49_stratified_sample(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString
    // the hash gate must evaluate at the scan — an Exchange would mean
    // the sample pays a shuffle it doesn't need (ORDER BY is the
    // presentation sort, allowed to range-partition)
    val beforeSort = plan.split("Sort").last
    assert(!beforeSort.contains("Exchange hashpartitioning"),
      plan.take(1500))
  }

  test("train split summary aggregates partially before its shuffle") {
    val plan = QueriesPipe.q50_train_split(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // partial_ (map-side) aggregate must appear below the exchange
    assert(plan.contains("partial_count") || plan.contains("partial"),
      plan.take(2000))
  }

  test("q44 near-dup pair join is bucketed, never a cartesian") {
    val plan = QueriesExt
      .q44_embedding_neardup(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString
    assert(!plan.contains("CartesianProduct"), plan.take(1500))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(1500))
  }

  test("temperature sample joins the rate table by broadcast") {
    val plan = QueriesPipe
      .q70_temp_sample(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the languages-sized rate table must broadcast — a shuffle join
    // here would repartition the whole corpus at scale
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("sequence packing window is partitioned on (lang, shard), never global") {
    val df = QueriesPipe.q69_seq_pack(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the plan must contain Window operators and none may run on a
    // single partition (a global window single-partitions the corpus)
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    // the running-offset window must key on the sub-shard too: bare
    // `lang` (≈5 values) would serialize the corpus through 5 tasks.
    // AdaptiveSparkPlanExec is a leaf to collect(), so unwrap it first
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val windowSpecs = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.toString)
    }
    assert(windowSpecs.nonEmpty)
    windowSpecs.foreach { spec =>
      assert(spec.size >= 2, s"window keyed on a single column: $spec")
      assert(spec.exists(_.contains("shard")),
        s"window lacks the sub-shard key: $spec")
    }
  }

  test("quality-mix quartile window is sharded, never per-language") {
    val df = QueriesPipe.q96_quality_mix(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("Window"), plan.take(2000))
    assert(!plan.contains("SinglePartition"), plan.take(2000))
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val windowSpecs = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.toString)
    }
    assert(windowSpecs.nonEmpty)
    windowSpecs.foreach(spec =>
      assert(spec.size >= 2, s"ntile keyed on a single column: $spec"))
  }

  test("pinned similarity/LM intermediates keep a multi-partition spread") {
    // regression gate for the AQE size-based coalescing trap: these
    // checkpointed tables are byte-small but feed CPU-heavy consumers;
    // a single-block checkpoint serializes every downstream stage
    val dir = "/root/testdata/sf0.001"
    QueriesPipe.q60_tfidf_terms(spark, dir).count()
    QueriesSim.q23_lsh_pairs(spark, dir).count()
    QueriesExt.q107_ann_recall(spark, dir).count()
    // sim_cand is exempt: under the size guard its consumers broadcast
    // it (candidate filter + pair spine); past the cap they shuffle on
    // doc_id / (da, db) against the pre-spread arrs side, so its own
    // partition count still never gates a CPU-heavy stage
    for (view <- Seq("doc_terms", "sim_pairs", "ann_sc")) {
      val n = spark.table(view).rdd.getNumPartitions
      assert(n >= 2, s"$view checkpointed as $n partition(s)")
    }
  }

  test("PII redaction is a pure scan-side projection") {
    val plan = QueriesPipe
      .q67_pii_redact(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString
    // no aggregation, no join: only the presentation sort may exchange
    assert(!plan.contains("HashAggregate"), plan.take(1500))
    assert(!plan.contains("Join"), plan.take(1500))
  }

  test("bloom dedup probes a scalar subquery sketch, no corpus cartesian") {
    val df = QueriesPipe.q77_bloom_dedup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the sketch is built once via the aggregate and probed as a
    // scalar — never a nested-loop over corpus keys
    assert(plan.contains("bloom_filter_agg") ||
      plan.contains("BloomFilterAggregate") || plan.contains("Subquery"),
      plan.take(2000))
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(plan.contains("might_contain"), plan.take(2000))
  }

  test("shard assignment windows are hash-partitioned, never global") {
    val plan = QueriesPipe
      .q79_shard_assign(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("SinglePartition"), plan.take(2000))
  }

  test("json extraction aggregates partially before its shuffle") {
    val plan = QueriesPipe
      .q80_json_extract(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // partial aggregation must run map-side (two HashAggregates around
    // one exchange) and the json field must be a plain projection
    assert("HashAggregate".r.findAllIn(plan).length >= 2, plan.take(2000))
    assert(!plan.contains("BatchEvalPython"), plan.take(2000))
  }

  test("IVF ANN centroid join broadcasts the 8-cell side") {
    val plan = QueriesExt
      .q72_ann_ivf(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // N x 8 assignment must be a broadcast nested loop over the tiny
    // centroid table (8 rows), never a shuffle of the vector corpus
    assert(plan.contains("Broadcast"), plan.take(2000))
  }

  test("dsir scoring broadcasts the 512-bucket log-ratio table") {
    val plan = QueriesPipe
      .q104_dsir_weights(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // the doc-scoring join must ship the vocabulary-bounded lr table
    // to the doc_terms side, never shuffle the corpus on bucket id
    assert(plan.contains("BroadcastHashJoin") ||
      plan.contains("BroadcastExchange"), plan.take(2000))
  }

  test("BM25 corpus rank is sharded before the global top-k") {
    val df = QueriesRag.q113_bm25(spark, "/root/testdata/sf0.001")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val specs = exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.toString)
    }
    // the corpus-side rank must key on the hash shard (the final rank
    // runs over <= 160 surviving rows, which is allowed to be global).
    // The shard expression is pre-projected to a _w0 attribute, so the
    // partitionSpec alone can't name it — assert a partitioned window
    // exists AND some node computes the pmod shard key (expression-tree
    // search: plan toString truncates wide Projects, hiding the pmod)
    assert(specs.exists(_.nonEmpty), s"every q113 window is global: $specs")
    val hasPmod = exec.collect { case n => n }.exists(_.expressions.exists(
      _.find(_.isInstanceOf[
        org.apache.spark.sql.catalyst.expressions.Pmod]).isDefined))
    assert(hasPmod, "no pmod shard key in the q113 plan")
  }

  private def windowSpecsOf(df: org.apache.spark.sql.DataFrame)
      : Seq[Seq[String]] = {
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    exec.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec =>
        w.partitionSpec.map(_.toString)
    }
  }

  test("IVF cell assignment is a map-side argmin aggregate, never a ranked window") {
    val dir = "/root/testdata/sf0.001"
    // q72/q88/q91/q97: the nearest-centroid / nearest-codeword argmin
    // must be the min_by aggregate (8 candidate rows combine to 1
    // map-side) — a row_number window would sort-shuffle the N×k cross
    // join. After the rewrite none of these plans contains ANY window.
    for ((n, q) <- Seq[(String, (org.apache.spark.sql.SparkSession, String) =>
        org.apache.spark.sql.DataFrame)](
      "q72" -> (QueriesExt.q72_ann_ivf _),
      "q88" -> (QueriesExt.q88_kmeans_refine _),
      "q91" -> (QueriesExt.q91_semdedup _),
      "q97" -> (QueriesExt.q97_pq_codes _))) {
      val ws = windowSpecsOf(q(spark, dir))
      assert(ws.isEmpty, s"$n still plans a window: $ws")
    }
    // q107 keeps its legitimate sharded top-k windows, but none may
    // partition on the corpus-wide vec_id alone (the banned shape)
    windowSpecsOf(QueriesExt.q107_ann_recall(spark, dir)).foreach(spec =>
      assert(!(spec.size == 1 && spec.head.contains("vec_id")),
        s"q107 windows on vec_id: $spec"))
  }

  test("round-7 additions keep their scale shapes") {
    val dir = "/root/testdata/sf0.001"
    // q142 hashed-linear scoring: one pass + aggregate — no window,
    // no cartesian (the "model" is an expression, not a joined table)
    val p142 = QueriesPipe.q142_quality_classifier(spark, dir)
    assert(windowSpecsOf(p142).isEmpty, "q142 plans a window")
    assert(!p142.queryExecution.sparkPlan.toString
      .contains("CartesianProduct"), "q142 cartesian")
    // q141 cluster canonical: the quality argmax must be the max_by
    // aggregate (map-side combine), never a ranked window
    assert(windowSpecsOf(
      QueriesPipe.q141_cluster_canonical(spark, dir)).isEmpty,
      "q141 argmax plans a window")
    // q146 sketch-prefilter ANN / q147 novelty: every nested-loop
    // join must be constant-sized (the 64x16 sign-matrix cross join);
    // none may have a file scan — i.e. the corpus — in its subtree
    def noDataNestedLoop(name: String,
        df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.sparkPlan
      assert(!plan.toString.contains("CartesianProduct"),
        s"$name: ${plan.toString.take(1500)}")
      plan.foreach {
        case j: org.apache.spark.sql.execution.joins
            .BroadcastNestedLoopJoinExec =>
          assert(!j.toString.contains("FileScan"),
            s"$name nested-loops over a data scan: ${j.toString.take(1500)}")
        case _ =>
      }
    }
    noDataNestedLoop("q146", QueriesExt.q146_ann_jl_prefilter(spark, dir))
    noDataNestedLoop("q147", QueriesSim.q147_ngram_novelty(spark, dir))
    // q148 coverage curve: every window input is the distinct-frequency
    // HISTOGRAM (O(sqrt tokens) rows), never the vocabulary — the plan
    // may window, but only over `g`-derived frames (both specs empty,
    // both fed by the freq GROUP BY — assert no window partitions on
    // term, the vocab-sized column)
    windowSpecsOf(QueriesPipe.q148_vocab_coverage(spark, dir))
      .foreach(spec => assert(!spec.exists(_.contains("term")),
        s"q148 windows on the vocabulary: $spec"))
  }

  test("RankToArgMin rewrites rank-one filters to map-side argmin") {
    graft.GraftOptimizations.install(spark) // explicit opt-in
    graft.functions.VectorFunctions.register(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    // naive keep-first-event-per-user SQL — the window formulation
    val naive = spark.sql(
      """SELECT user_id, event_id, value FROM (
        |  SELECT user_id, event_id, value, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec") && !plan.contains("Window "),
      s"rank-one window not rewritten:\n${plan.take(1500)}")
    assert(plan.contains("min_by"), plan.take(1500))
    // results must equal the explicit argmin formulation
    val manual = spark.sql(
      """SELECT user_id,
        |  min_by(event_id, struct(ts, event_id)) AS event_id,
        |  min_by(value, struct(ts, event_id)) AS value
        |FROM events GROUP BY user_id""".stripMargin)
    assert(naive.exceptAll(manual).isEmpty && manual.exceptAll(naive).isEmpty)
    // nullable ORDER BY key: null-keyed rows must win (NULLS FIRST),
    // not be skipped — the struct wrap guarantees it
    import spark.implicits._
    val t = Seq((1, Option.empty[Int], "null-key"), (1, Some(5), "five"),
      (2, Some(7), "seven")).toDF("k", "o", "tag")
    t.createOrReplaceTempView("rta_null_probe")
    val got = spark.sql(
      """SELECT k, tag FROM (
        |  SELECT k, tag, row_number() OVER (
        |    PARTITION BY k ORDER BY o) AS rn
        |  FROM rta_null_probe) WHERE rn = 1""".stripMargin)
    val gotPlan = got.queryExecution.executedPlan.toString
    assert(!gotPlan.contains("WindowExec"), gotPlan.take(1000))
    assert(got.orderBy("k").collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "null-key"), (2, "seven")))
    // descending (keep-LATEST-per-key) rewrites to max_by, with
    // NULLS LAST semantics preserved: the null-keyed row must lose
    val desc = spark.sql(
      """SELECT k, tag FROM (
        |  SELECT k, tag, row_number() OVER (
        |    PARTITION BY k ORDER BY o DESC) AS rn
        |  FROM rta_null_probe) WHERE rn = 1""".stripMargin)
    val descPlan = desc.queryExecution.executedPlan.toString
    assert(!descPlan.contains("row_number() windowspecdefinition") &&
      descPlan.contains("max_by"), descPlan.take(1200))
    assert(desc.orderBy("k").collect().map(r =>
      (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "five"), (2, "seven")))
    // mixed directions keep their window (out of the rule's scope)
    val mixed = spark.sql(
      """SELECT user_id FROM (
        |  SELECT user_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)
    assert(mixed.queryExecution.executedPlan.toString
      .contains("row_number() windowspecdefinition"))
  }

  test("RankToArgMin rewrites rn <= k to the bounded top-k aggregate") {
    graft.GraftOptimizations.install(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    // top-3 events per user by time — the naive window formulation
    val naive = spark.sql(
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin)
    val plan = naive.queryExecution.executedPlan.toString
    assert(!plan.contains("row_number() windowspecdefinition"),
      s"rn<=k window not rewritten:\n${plan.take(1500)}")
    assert(plan.contains("graft_topk_rows"), plan.take(1500))
    // equals the window result computed WITHOUT the rule (rank()
    // over a TOTAL order ≡ row_number, and the rule ignores rank)
    val noRule = spark.sql(
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id, rank() OVER (
        |    PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events) WHERE rn <= 3""".stripMargin)
    assert(naive.exceptAll(noRule).isEmpty &&
      noRule.exceptAll(naive).isEmpty)
    // descending variant → keep-latest-3, and rn survives correctly
    val desc = spark.sql(
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id, row_number() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn <= 2""".stripMargin)
    assert(desc.queryExecution.executedPlan.toString
      .contains("graft_topk_rows"))
    val descRef = spark.sql(
      """SELECT user_id, event_id, rn FROM (
        |  SELECT user_id, event_id, rank() OVER (
        |    PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn <= 2""".stripMargin)
    assert(desc.exceptAll(descRef).isEmpty &&
      descRef.exceptAll(desc).isEmpty)
    // the oracle-gated q175 must actually exercise the rewrite
    val q175 = QueriesWindow.q175_topk_rewrite(
      spark, "/root/testdata/sf0.001")
    val p175 = q175.queryExecution.executedPlan.toString
    assert(p175.contains("graft_topk_rows") &&
      !p175.contains("row_number() windowspecdefinition"),
      p175.take(1200))
  }

  // -- global-window allowlist gate ----------------------------------
  // A WindowExec with an EMPTY partitionSpec single-threads its input
  // through one task — a scale-killer on corpus-sized data, and the
  // source of the bench tail's "No Partition Defined" warnings. This
  // gate makes those warnings auditable: every bench-headline query is
  // EXECUTED and each global window it plans must (a) be allowlisted
  // with its structural bound documented, and (b) MEASURE under that
  // bound (rows observed entering the window via the plan's metrics).

  import org.apache.spark.sql.execution.SparkPlan

  /** child traversal that descends into AQE stage/reuse wrappers */
  private def deepChildren(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      Seq(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      Seq(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      Seq(r.child)
    case _ => p.children
  }
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: deepChildren(p).flatMap(allNodes)

  /** rows flowing into `w`: nearest descendant exposing a row metric
    * (window operators themselves only track spill). Metrics are
    * populated because the query ran to completion first. */
  private def rowsInto(w: SparkPlan): Option[Long] = {
    val q = scala.collection.mutable.Queue[SparkPlan](deepChildren(w): _*)
    while (q.nonEmpty) {
      val n = q.dequeue()
      val m = n.metrics
      val hit = m.get("numOutputRows").orElse(m.get("shuffleRecordsWritten"))
        .orElse(m.get("recordsRead")).map(_.value)
      if (hit.isDefined) return hit
      q.enqueueAll(deepChildren(n))
    }
    None
  }

  test("global windows: allowlisted queries only, measured tiny inputs") {
    val dir = "/root/testdata/sf0.001"
    // query -> max rows a global window may see, with the structural
    // bound that holds at ANY corpus scale:
    val allow: Map[String, Long] = Map(
      // two-stage top-k reranks: stage 2 sees <= shards x k rows
      "q16_topk_suppliers" -> 4096,
      "q25_ann_cosine" -> 4096,
      "q37_ann_native" -> 4096,
      "q72_ann_ivf" -> 4096,
      "q98_pq_adc" -> 4096,
      "q101_hard_negatives" -> 4096,
      "q107_ann_recall" -> 4096,
      "q113_bm25" -> 4096,
      "q128_incremental_index" -> 4096, // q113's rerank over <= 16x10
      // second-stage vocab rank: <= 16 hash shards x 500 survivors
      "q103_vocab_oov" -> 8192,
      // language/domain tables: one row per language (UniMax waterfill,
      // KL mix, quota rates) — bounded by the language inventory
      "q105_unimax_mix" -> 1024,
      "q106_lang_kl" -> 1024,
      "q104_dsir_weights" -> 1024,
      // bounded summary/presentation rows (funnel steps, profile rows,
      // retention cohorts, histogram buckets)
      "q74_profile" -> 1024,
      "q82_funnel" -> 1024,
      "q83_retention" -> 1024)
    val qs = SparkEntry.queries
    val failures = Seq.newBuilder[String]
    for (name <- Bench.headline) {
      val df = qs(name)(spark, dir)
      df.collect() // execute so plan metrics carry real row counts
      val globals = allNodes(df.queryExecution.executedPlan).collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty => w
      }
      (globals, allow.get(name)) match {
        case (Nil, _) => // no global window: nothing to audit
        case (ws, None) =>
          failures += s"$name plans ${ws.length} global window(s) but is " +
            "not allowlisted"
        case (ws, Some(bound)) =>
          ws.foreach { w =>
            rowsInto(w) match {
              case Some(rows) if rows > bound =>
                failures += s"$name: global window saw $rows rows " +
                  s"(> bound $bound)"
              case None =>
                failures += s"$name: global window input not measurable"
              case _ => // measured under the bound
            }
          }
      }
    }
    assert(failures.result().isEmpty, failures.result().mkString("\n"))
  }

  test("incremental dedup probes by band equi-joins, never a cartesian") {
    val df = QueriesRag
      .q118_incremental_dedup(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString
    // the near-dup candidate step must be the 4-band equi-join union —
    // an OR-join would plan as a nested-loop over new x stored
    assert(!plan.contains("CartesianProduct"), plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.take(2000))
  }

  test("image-hash dedup shuffles hashes, never pixel payloads") {
    val df = QueriesRag.q116_image_phash(spark, "/root/testdata/sf0.001")
    val exec = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.executedPlan
      case p => p
    }
    val exchanges = exec.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.map(_.name)
    }
    assert(exchanges.nonEmpty, "expected the hash groupBy exchange")
    exchanges.foreach(out =>
      assert(!out.exists(_.contains("payload")),
        s"image bytes crossed a shuffle: $out"))
  }
}
