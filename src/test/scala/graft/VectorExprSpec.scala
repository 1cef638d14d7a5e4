package graft

import graft.functions.VectorFunctions
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Native CosineSimilarity/DotProduct Expressions: correctness vs the
  * lambda-composed equivalent, null handling, codegen path.
  */
class VectorExprSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def emb = Tables.table(spark, "/root/testdata/sf0.001", "embeddings")

  test("native cosine matches zip_with/aggregate composition") {
    val q = emb.filter(col("vec_id") === 0)
      .select(col("embedding").as("qe"))
    val joined = emb.filter(col("vec_id") =!= 0).crossJoin(q)
    val native = joined.select(col("vec_id"),
      VectorFunctions.cosineSimilarity(col("embedding"), col("qe"))
        .as("c"))
    val lambda = joined.selectExpr("vec_id",
      """aggregate(zip_with(cast(embedding as array<double>),
           cast(qe as array<double>), (x,y) -> x*y),
           cast(0 as double), (a,x) -> a+x)
         / (sqrt(aggregate(cast(embedding as array<double>),
             cast(0 as double), (a,x) -> a+x*x))
          * sqrt(aggregate(cast(qe as array<double>),
             cast(0 as double), (a,x) -> a+x*x))) as c""")
    val n = native.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val l = lambda.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(n.keySet == l.keySet)
    n.foreach { case (k, v) =>
      assert(math.abs(v - l(k)) < 1e-12, s"vec $k: $v vs ${l(k)}")
    }
  }

  test("dot product and SQL registration") {
    VectorFunctions.register(spark)
    emb.createOrReplaceTempView("emb_t")
    val r = spark.sql(
      """SELECT graft_dot(embedding, embedding) AS d,
        |       graft_cosine(embedding, embedding) AS c
        |FROM emb_t LIMIT 5""".stripMargin).collect()
    r.foreach { row =>
      assert(row.getDouble(0) > 0)
      assert(math.abs(row.getDouble(1) - 1.0) < 1e-9) // self-cosine = 1
    }
  }

  test("native minhash kernel equals the SQL lambda formulation") {
    VectorFunctions.register(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val hexExpr = "cast(conv(substr(md5(s),1,8),16,10) as bigint)"
    val lambdaCols = QueriesSim.A.zip(QueriesSim.B).zipWithIndex
      .map { case ((a, b), i) =>
        s"array_min(transform(sh, h -> ($a*h+$b)%${QueriesSim.P})) AS mh${i + 1}"
      }.mkString(", ")
    val lambda = spark.sql(
      s"""SELECT doc_id, $lambdaCols FROM (
         |  SELECT doc_id, transform(array_distinct(
         |      transform(sequence(1, size(t)-2),
         |        i -> concat(element_at(t,i),' ',element_at(t,i+1),' ',
         |                    element_at(t,i+2)))),
         |    s -> $hexExpr) AS sh
         |  FROM (SELECT doc_id, split(text,' ', -1) AS t FROM documents)
         |  WHERE size(t) >= 3)""".stripMargin).collect()
      .map(r => r.getLong(0) -> (1 to 8).map(r.getLong)).toMap
    val native = spark.sql(
      """SELECT doc_id, graft_minhash(text) AS sig FROM documents
        |WHERE graft_minhash(text) IS NOT NULL""".stripMargin).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    assert(native.keySet == lambda.keySet)
    native.foreach { case (doc, sig) =>
      assert(sig == lambda(doc), s"doc $doc: $sig vs ${lambda(doc)}")
    }
  }

  test("minhash kernel edge cases: short texts and multi-spaces") {
    VectorFunctions.register(spark)
    val s = spark
    import s.implicits._
    val df = Seq("", "one", "one two", "a b c", "a  b c", "a b c d")
      .toDF("text")
    df.createOrReplaceTempView("mh_edge")
    val out = spark.sql(
      "SELECT text, graft_minhash(text) FROM mh_edge").collect()
    out.foreach { r =>
      val t = r.getString(0)
      val nTok = t.split(" ", -1).length
      if (nTok < 3) assert(r.isNullAt(1), s"'$t' should be null")
      else {
        assert(!r.isNullAt(1), s"'$t' should produce a signature")
        assert(r.getSeq[Long](1).length == 8)
      }
    }
    // "a  b c" (double space) tokenizes to [a, '', b, c]: 2 shingles
    val sigs = out.filter(!_.isNullAt(1))
      .map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sigs.contains("a  b c"))
    assert(sigs("a b c") != sigs("a  b c"),
      "empty token must change the shingle set")
  }

  test("shingle kernel equals the SQL hash formulation, sorted + distinct") {
    VectorFunctions.register(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val hexExpr = "cast(conv(substr(md5(s),1,8),16,10) as bigint)"
    val sql = spark.sql(
      s"""SELECT doc_id, array_sort(transform(array_distinct(
         |      transform(sequence(1, size(t)-2),
         |        i -> concat(element_at(t,i),' ',element_at(t,i+1),' ',
         |                    element_at(t,i+2)))),
         |    s -> $hexExpr)) AS sh
         |  FROM (SELECT doc_id, split(text,' ', -1) AS t FROM documents)
         |  WHERE size(t) >= 3""".stripMargin).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    val native = spark.sql(
      """SELECT doc_id, graft_shingles(text) AS sh FROM documents
        |WHERE graft_shingles(text) IS NOT NULL""".stripMargin).collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toIndexedSeq).toMap
    assert(native.keySet == sql.keySet)
    native.foreach { case (doc, sh) =>
      // SQL distinct keeps string-distinct shingles: two different
      // strings hashing alike would appear twice — compare as sets of
      // hashes via distinct on the SQL side too
      assert(sh == sql(doc).distinct.sorted,
        s"doc $doc: ${sh.take(5)} vs ${sql(doc).take(5)}")
      assert(sh == sh.sorted && sh == sh.distinct,
        s"doc $doc: kernel output must be sorted and distinct")
    }
  }

  test("sorted-intersect kernel equals array_intersect cardinality") {
    VectorFunctions.register(spark)
    val out = spark.sql(
      """SELECT graft_isect(array(1L, 3L, 5L, 9L), array(3L, 4L, 9L)),
        |  graft_isect(cast(array() AS array<bigint>), array(1L)),
        |  graft_isect(array(2L), array(2L)),
        |  graft_isect(graft_shingles('a b c d e'),
        |              graft_shingles('b c d e f')),
        |  size(array_intersect(graft_shingles('a b c d e'),
        |                       graft_shingles('b c d e f')))""".stripMargin)
      .collect()(0)
    assert(out.getLong(0) == 2L)
    assert(out.getLong(1) == 0L)
    assert(out.getLong(2) == 1L)
    assert(out.getLong(3) == out.getInt(4).toLong,
      "kernel and array_intersect must agree on real shingle sets")
    // 'a b c d e' vs 'b c d e f': shared shingles = 'b c d', 'c d e'
    assert(out.getLong(3) == 2L)
  }

  test("termcounts kernel equals the explode + GROUP BY formulation") {
    VectorFunctions.register(spark)
    Tables.registerAll(spark, "/root/testdata/sf0.001")
    val sql = spark.sql(
      """SELECT doc_id, term, count(*) AS cnt FROM (
        |  SELECT doc_id, explode(split(text, ' ', -1)) AS term
        |  FROM documents)
        |GROUP BY 1, 2""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    val native = spark.sql(
      """SELECT doc_id, tc.term, tc.cnt
        |FROM (SELECT doc_id, graft_termcounts(text) AS tcs
        |      FROM documents)
        |LATERAL VIEW explode(tcs) t AS tc""".stripMargin).collect()
      .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(native == sql)
    // split(' ', -1) edge semantics: empty text -> one empty token;
    // double space -> an empty token between the words
    val edge = spark.sql(
      """SELECT graft_termcounts(''), graft_termcounts('a  a b')""")
      .collect()(0)
    val empty = edge.getSeq[org.apache.spark.sql.Row](0)
    assert(empty.length == 1 && empty.head.getString(0) == "" &&
      empty.head.getLong(1) == 1L)
    val dbl = edge.getSeq[org.apache.spark.sql.Row](1)
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(dbl == Map("a" -> 2L, "" -> 1L, "b" -> 1L))
  }

  test("kernels agree with reference recomputes on fuzzed unicode texts") {
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.{MinHashImpl, ShingleImpl, TermCountsImpl}
    val rnd = new scala.util.Random(20260813L)
    val alphabet = Seq("a", "bb", "ccc", "Ж", "東京", "🙂", "naïve",
      "x1", "", "word", "WORD", "café")
    def md5h(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
    }
    for (_ <- 1 to 200) {
      val n = rnd.nextInt(12)
      val toks = Seq.fill(n)(alphabet(rnd.nextInt(alphabet.length)))
      val text = toks.mkString(" ")
      val u = UTF8String.fromString(text)
      // split semantics reference: split(' ', -1)
      val ref = text.split(" ", -1).toSeq
      // termcounts
      val tc = TermCountsImpl.counts(u)
      val got = (0 until tc.numElements()).map { i =>
        val r = tc.getStruct(i, 2)
        r.getUTF8String(0).toString -> r.getLong(1)
      }.toMap
      val want = ref.groupBy(identity).view.mapValues(_.size.toLong).toMap
      assert(got == want, s"termcounts on '$text'")
      // shingles
      val sh = Option(ShingleImpl.hashes(u))
        .map(a => (0 until a.numElements()).map(a.getLong))
      val shWant =
        if (ref.length < 3) None
        else Some(ref.sliding(3).map(_.mkString(" ")).toSeq
          .distinct.map(md5h).distinct.sorted)
      assert(sh.map(_.toSeq) == shWant, s"shingles on '$text'")
      // minhash folds the same hash stream
      val mh = Option(MinHashImpl.sig(u))
        .map(a => (0 until 8).map(a.getLong))
      val mhWant = shWant.map { hs0 =>
        val hs = ref.sliding(3).map(_.mkString(" ")).toSeq.map(md5h)
        MinHashImpl.A.zip(MinHashImpl.B).map { case (a, b) =>
          hs.map(h => (a * h + b) % MinHashImpl.P).min
        }.toIndexedSeq
      }
      assert(mh == mhWant, s"minhash on '$text'")
      // simhash: distinct tokens vote ±1 per bit, sign recombines
      val sim = graft.functions.SimHashImpl.simhash(u)
      val votes = new Array[Int](32)
      ref.distinct.foreach { tk =>
        val h = md5h(tk)
        (0 until 32).foreach(b =>
          if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1)
      }
      val simWant = (0 until 32)
        .map(b => if (votes(b) > 0) 1L << b else 0L).sum
      assert(sim == simWant, s"simhash on '$text'")
    }
    // intersect against scala sets on random sorted arrays
    for (_ <- 1 to 100) {
      val a = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      val b = Seq.fill(rnd.nextInt(30))(rnd.nextInt(40).toLong)
        .distinct.sorted
      val got = ShingleImpl.intersectSize(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(a.toArray),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(b.toArray))
      assert(got == a.toSet.intersect(b.toSet).size.toLong)
    }
  }

  test("null inputs yield null") {
    val s = spark
    import s.implicits._
    val df = Seq((Some(Array(1.0f, 2.0f)), None: Option[Array[Float]]))
      .toDF("a", "b")
    val out = df.select(VectorFunctions.cosineSimilarity(col("a"),
      col("b"))).collect()
    assert(out(0).isNullAt(0))
  }

  test("graft_topk is exact under any partitioning (heap merge)") {
    graft.functions.VectorFunctions.register(spark)
    import spark.implicits._
    val vals = scala.util.Random.shuffle((1L to 1000L).toList)
    val expect = (1L to 1000L).sorted.reverse.take(7)
    for (parts <- Seq(1, 7, 32)) {
      val df = vals.toDF("x").repartition(parts)
      df.createOrReplaceTempView("tk")
      val got = spark.sql("SELECT graft_topk(x, 7) AS t FROM tk")
        .collect()(0).getSeq[Long](0)
      assert(got == expect, s"parts=$parts got=$got")
    }
    // smaller group than k: returns what exists, descending
    val small = spark.sql(
      "SELECT graft_topk(x, 7) AS t FROM (SELECT explode(array(3L,9L)) x)")
      .collect()(0).getSeq[Long](0)
    assert(small == Seq(9L, 3L))
  }

  test("GraftExtensions injects functions via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    val shared = spark // keep the shared session alive (same context)
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // with no active/default session, getOrCreate builds a NEW
      // session on the existing context and applies the extensions
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(e => new graft.GraftExtensions().apply(e))
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val out = s2.sql(
        """SELECT graft_cosine(
          |  array(cast(1.0 as float), cast(0.0 as float)),
          |  array(cast(1.0 as float), cast(0.0 as float))) AS c"""
          .stripMargin)
        .collect()(0).getDouble(0)
      assert(math.abs(out - 1.0) < 1e-9)
      // every function of the one table resolves through the extension
      // alone (s2 never ran VectorFunctions.register)
      val missing = graft.functions.VectorFunctions.sqlFunctions
        .map(_._1).filterNot(s2.catalog.functionExists)
      assert(missing.isEmpty, s"not injected: $missing")
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }
}
