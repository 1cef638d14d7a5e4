package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{
  CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{
  BinaryExpression, BloomFilterMightContain, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.types._

/** Native Catalyst expressions for embedding math.
  *
  * The composable alternative (`zip_with` + `aggregate` lambda chains,
  * see QueriesSim.q25) allocates an intermediate array and evaluates a
  * lambda per element; these expressions generate a single fused loop
  * in whole-stage codegen — the preferred shape for the 100 TB ANN
  * scan path.
  */
case class CosineSimilarity(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true
  override def prettyName: String = "cosine_similarity"

  private def isDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val dbl = isDouble
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      // a null ELEMENT nulls the whole similarity — never an NPE, and
      // never a silently-wrong 0.0 contribution
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (dbl) x.getDouble(i) else x.getFloat(i).toDouble
      val yv = if (dbl) y.getDouble(i) else y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    if (na == 0.0 || nb == 0.0) null
    else java.lang.Double.valueOf(
      dot / (java.lang.Math.sqrt(na) * java.lang.Math.sqrt(nb)))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val get = if (isDouble) "getDouble" else "getFloat"
    // every local is freshName'd: the same expression can be
    // instantiated twice in ONE generated function (e.g. inside a
    // min_by aggregate key and a projection), where fixed names are a
    // janino "Redefinition of local variable" error that silently
    // kicks the whole stage out of codegen
    val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
    val na = ctx.freshName("na"); val nb = ctx.freshName("nb")
    val anyNull = ctx.freshName("anyNull"); val i = ctx.freshName("i")
    val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
    nullSafeCodeGen(ctx, ev, (a, b) => {
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |  double $xv = (double) $a.$get($i);
         |  double $yv = (double) $b.$get($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |if ($anyNull || $na == 0.0 || $nb == 0.0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $dot /
         |    (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): CosineSimilarity =
    copy(left = newLeft, right = newRight)
}

/** fused dot product over float arrays (same motivation) */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    VectorFunctions.checkFloatArrays(prettyName, left, right)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "dot_product"

  private def isDouble: Boolean = left.dataType match {
    case ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def nullable: Boolean = true

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    val dbl = isDouble
    var dot = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null // see CosineSimilarity
      dot += (if (dbl) x.getDouble(i) else x.getFloat(i).toDouble) *
        (if (dbl) y.getDouble(i) else y.getFloat(i).toDouble)
      i += 1
    }
    java.lang.Double.valueOf(dot)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode)
      : ExprCode = {
    val get = if (isDouble) "getDouble" else "getFloat"
    // freshName'd locals — see CosineSimilarity.doGenCode
    val n = ctx.freshName("n"); val dot = ctx.freshName("dot")
    val anyNull = ctx.freshName("anyNull"); val i = ctx.freshName("i")
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0;
         |boolean $anyNull = false;
         |for (int $i = 0; $i < $n; $i++) {
         |  if ($a.isNullAt($i) || $b.isNullAt($i)) { $anyNull = true; break; }
         |  $dot += (double) $a.$get($i) * (double) $b.$get($i);
         |}
         |if ($anyNull) { ${ev.isNull} = true; } else { ${ev.value} = $dot; }
       """.stripMargin)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}

object VectorFunctions {

  /** both args must be float arrays, or both double arrays (float is
    * the storage dtype; double feeds oracle-exact IEEE comparisons) */
  private[functions] def checkFloatArrays(name: String,
      exprs: Expression*): TypeCheckResult = {
    val ok = exprs.forall(_.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }) || exprs.forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$name expects array<float> (or array<double>) arguments, got " +
        exprs.map(_.dataType.simpleString).mkString(", "))
  }

  /** Column API */
  def cosineSimilarity(a: Column, b: Column): Column =
    GraftBridge.column(CosineSimilarity(
      GraftBridge.expression(a), GraftBridge.expression(b)))
  def dotProduct(a: Column, b: Column): Column =
    GraftBridge.column(DotProduct(
      GraftBridge.expression(a), GraftBridge.expression(b)))

  /** Every graft SQL function: its name, the expression class its
    * `ExpressionInfo` names, and its builder. [[register]] and
    * [[graft.GraftExtensions]] both install exactly this list. */
  val sqlFunctions
      : Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_cosine", classOf[CosineSimilarity],
      e => CosineSimilarity(e(0), e(1))),
    ("graft_dot", classOf[DotProduct], e => DotProduct(e(0), e(1))),
    ("graft_topk", classOf[TopKLong],
      e => TopKLong.fromExprs(e).toAggregateExpression()),
    ("graft_minhash", classOf[MinHashSig], e => MinHashSig(e(0))),
    ("graft_shingles", classOf[ShingleHashes], e => ShingleHashes(e(0))),
    ("graft_isect", classOf[SortedIntersectSize],
      e => SortedIntersectSize(e(0), e(1))),
    ("graft_termcounts", classOf[TermCounts], e => TermCounts(e(0))),
    ("graft_simhash", classOf[SimHash], e => SimHash(e(0))),
    // Spark's own bloom-filter sketch expressions (the machinery behind
    // runtime row-group filters), surfaced as SQL functions so queries
    // can build a set-membership sketch over one relation and probe it
    // from another without a shuffle join: the aggregate emits a binary
    // sketch, the probe is a scan-side scalar — the classic "dedup the
    // new batch against a 100 TB corpus" shape.
    ("graft_bloom_agg", classOf[aggregate.BloomFilterAggregate], {
      case Seq(child) =>
        new aggregate.BloomFilterAggregate(child).toAggregateExpression()
      case Seq(child, n) =>
        new aggregate.BloomFilterAggregate(child, n).toAggregateExpression()
      case exprs => throw new IllegalArgumentException(
        s"graft_bloom_agg(xxhash64_col[, est_items]): got ${exprs.length} args")
    }),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      e => BloomFilterMightContain(e(0), e(1))))

  /** register [[sqlFunctions]] for SQL use in a running session */
  def register(spark: org.apache.spark.sql.SparkSession): Unit =
    // NOTE: registers FUNCTIONS only. The RankToArgMin optimizer rule
    // is a query-semantics-level extension — activate it explicitly
    // via `spark.sql.extensions=graft.GraftExtensions` or
    // `graft.GraftOptimizations.install(spark)`, never as a side
    // effect of function registration.
    sqlFunctions.foreach { case (name, _, build) =>
      GraftBridge.registerFunction(spark, name, build)
    }
}
