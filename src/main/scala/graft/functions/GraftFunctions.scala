package graft.functions

import graft.text.TextAlgos
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: 64-bit SimHash of a text column.
  *
  * Why an Expression and not a typed map / UDF: the dedup path computes
  * simhash over the full `documents` table; a typed `Dataset.map` forces
  * a SerializeFromObject/DeserializeToObject boundary that materializes
  * EVERY column of the row as JVM objects, and a Scala UDF boxes its
  * input/output per row. A codegen'd unary expression converts only the
  * one string column, inside the same WholeStageCodegen stage as the
  * surrounding scan/projection — at 100 TB the difference is a full
  * row-ser/de pass over the corpus.
  *
  * The hash itself is the same `TextAlgos.simhash` used everywhere else
  * (token 64-bit hashes, bitwise majority vote), so expression and typed
  * paths are bit-identical — asserted in FunctionsSpec.
  */
case class SimHash64(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash64 requires a string argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_simhash64"

  override protected def nullSafeEval(input: Any): Any =
    TextAlgos.simhashUtf8(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    // Scala top-level objects expose static forwarders, so generated Java
    // can call TextAlgos directly — no boxing, stays in codegen.
    defineCodeGen(ctx, ev, c => s"graft.text.TextAlgos.simhashUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

/** Native Catalyst expression: floor(cosine(a, b) * 10000) over two
  * `array<float>` columns — the ANN scoring kernel as a codegen'd binary
  * expression. Works directly on `ArrayData` (primitive float copy, no
  * per-element boxing, no typed ser/de boundary), with accumulation
  * order identical to `TextAlgos.cosine` so results match the typed path
  * exactly.
  */
case class CosineX10000(left: Expression, right: Expression) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val want = org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType)
    def ok(t: DataType) = t match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine_x10000 requires two ${want.catalogString} arguments, " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cosine_x10000"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgos.cosineX10000ArrayData(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.text.TextAlgos.cosineX10000ArrayData($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineX10000 =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: floor(euclidean_distance(a, b) * 10000)
  * over two `array<float>` columns — the reference's L2-with-threshold
  * match metric (ref: src/signature_module/signature_module_main.py:106)
  * as a codegen'd binary expression, same design as CosineX10000.
  */
case class L2X10000(left: Expression, right: Expression) extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_l2_x10000 requires two array<float> arguments, " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_l2_x10000"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgos.l2X10000ArrayData(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.text.TextAlgos.l2X10000ArrayData($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): L2X10000 =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: sign-bit hyperplane LSH bucket of an
  * `array<float>` embedding under `nPlanes` deterministic planes — keeps
  * the ANN/dedup bucketing stage inside WholeStageCodegen instead of a
  * typed map that would ser/de every row. `nPlanes` and the optional
  * `planeOffset` (default 0; table t of a multi-table LSH index passes
  * t*nPlanes for disjoint plane families) must be foldable int literals.
  */
case class HyperplaneBucket(first: Expression, second: Expression, third: Expression)
    extends org.apache.spark.sql.catalyst.expressions.TernaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val vecOk = first.dataType match {
      case org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.FloatType, _) => true
      case _ => false
    }
    def litInt(e: Expression) =
      e.dataType == org.apache.spark.sql.types.IntegerType && e.foldable
    if (!vecOk) TypeCheckResult.TypeCheckFailure(
      s"graft_hyperplane_bucket requires array<float>, got ${first.dataType.catalogString}")
    else if (!litInt(second) || !litInt(third))
      TypeCheckResult.TypeCheckFailure(
        "graft_hyperplane_bucket requires literal int plane count and plane offset")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = org.apache.spark.sql.types.IntegerType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_hyperplane_bucket"

  override protected def nullSafeEval(a: Any, n: Any, off: Any): Any =
    TextAlgos.hyperplaneBucketArrayData(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      n.asInstanceOf[Int], off.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, n, off) => s"graft.text.TextAlgos.hyperplaneBucketArrayData($a, $n, $off)")

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): HyperplaneBucket =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** Native Catalyst expression: feature-hash count vector (histogram) of a
  * token array — token t lands in dimension sha256(t)[0:4-bytes] mod dims.
  * One digest per token; the equivalent SQL fold
  * (`aggregate(transform(toks, sha...), zip_with...)`) allocates two
  * dims-length arrays PER TOKEN and was q73's entire cost at sf0.1. `dims`
  * must be a foldable positive int literal.
  */
case class CountVec(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    val toksOk = left.dataType match {
      case org.apache.spark.sql.types.ArrayType(StringType, _) => true
      case _ => false
    }
    if (!toksOk) TypeCheckResult.TypeCheckFailure(
      s"graft_count_vec requires array<string>, got ${left.dataType.catalogString}")
    else if (right.dataType != org.apache.spark.sql.types.IntegerType || !right.foldable)
      TypeCheckResult.TypeCheckFailure(
        "graft_count_vec requires a literal int dimension count")
    else TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_count_vec"

  override protected def nullSafeEval(toks: Any, dims: Any): Any =
    TextAlgos.countVecArrayData(
      toks.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      dims.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (toks, dims) => s"graft.text.TextAlgos.countVecArrayData($toks, $dims)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CountVec =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: floor(cos²(a,b) · 10000) over two
  * `array<bigint>` count vectors — exact integer arithmetic end to end
  * (no float parity risk), the RAG chunk-scoring kernel. The SQL-fold
  * equivalent runs three interpreted 64-element lambdas per scored PAIR;
  * this stays inside WholeStageCodegen.
  */
case class Cos2X10000(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case org.apache.spark.sql.types.ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cos2_x10000 requires two array<bigint> arguments, " +
        s"got ${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_cos2_x10000"

  override protected def nullSafeEval(a: Any, b: Any): Any =
    TextAlgos.cos2X10000LongArrayData(
      a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData],
      b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.text.TextAlgos.cos2X10000LongArrayData($a, $b)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Cos2X10000 =
    copy(left = newLeft, right = newRight)
}

/** Native Catalyst expression: canonical decimal string of a double
  * (Python str(float) / DuckDB varchar-cast format) — the cross-system
  * numeric canonicalization feeding signature hashes (the reference's
  * `str(float(val))`, ref: agents/knowledge_graph_agent/utils.py:49-63).
  */
case class CanonDouble(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.DoubleType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_canon_double requires a double argument, got ${child.dataType.catalogString}")
  override def dataType: DataType = StringType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_canon_double"

  override protected def nullSafeEval(input: Any): Any =
    TextAlgos.canonDoubleUtf8(input.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.text.TextAlgos.canonDoubleUtf8($c)")

  override protected def withNewChildInternal(newChild: Expression): CanonDouble =
    copy(child = newChild)
}

/** Registration for graft's native SQL functions. Use either
  * `GraftFunctions.register(spark)` (idempotent, runtime) or
  * `spark.sql.extensions=graft.functions.GraftExtensions` at session
  * build time.
  */
object GraftFunctions {

  /** (identifier, info, builder) for every native function — one table
    * shared by runtime registration and the session-extension hook.
    */
  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_simhash64"),
      new ExpressionInfo(
        classOf[SimHash64].getName, null, "graft_simhash64",
        "_FUNC_(text) - 64-bit SimHash fingerprint of the token stream.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_simhash64 takes exactly one argument")
        SimHash64(children.head)
      }),
    (FunctionIdentifier("graft_cosine_x10000"),
      new ExpressionInfo(
        classOf[CosineX10000].getName, null, "graft_cosine_x10000",
        "_FUNC_(a, b) - floor(cosine_similarity(a, b) * 10000) over array<float>.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cosine_x10000 takes exactly two arguments")
        CosineX10000(children.head, children(1))
      }),
    (FunctionIdentifier("graft_l2_x10000"),
      new ExpressionInfo(
        classOf[L2X10000].getName, null, "graft_l2_x10000",
        "_FUNC_(a, b) - floor(euclidean_distance(a, b) * 10000) over array<float>.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_l2_x10000 takes exactly two arguments")
        L2X10000(children.head, children(1))
      }),
    (FunctionIdentifier("graft_hyperplane_bucket"),
      new ExpressionInfo(
        classOf[HyperplaneBucket].getName, null, "graft_hyperplane_bucket",
        "_FUNC_(v, nPlanes[, planeOffset]) - sign-bit hyperplane LSH bucket of an array<float>.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2 || children.size == 3,
          "graft_hyperplane_bucket takes two or three arguments")
        val off = if (children.size == 3) children(2)
          else org.apache.spark.sql.catalyst.expressions.Literal(0)
        HyperplaneBucket(children.head, children(1), off)
      }),
    (FunctionIdentifier("graft_cos2_x10000"),
      new ExpressionInfo(
        classOf[Cos2X10000].getName, null, "graft_cos2_x10000",
        "_FUNC_(a, b) - floor(cos_squared(a, b) * 10000) over array<bigint>, exact integer.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_cos2_x10000 takes exactly two arguments")
        Cos2X10000(children.head, children(1))
      }),
    (FunctionIdentifier("graft_count_vec"),
      new ExpressionInfo(
        classOf[CountVec].getName, null, "graft_count_vec",
        "_FUNC_(toks, dims) - sha256-bucketed token count histogram as array<bigint>.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 2, "graft_count_vec takes exactly two arguments")
        CountVec(children.head, children(1))
      }),
    (FunctionIdentifier("graft_canon_double"),
      new ExpressionInfo(
        classOf[CanonDouble].getName, null, "graft_canon_double",
        "_FUNC_(x) - canonical shortest-roundtrip decimal string of a double.", ""),
      (children: Seq[Expression]) => {
        require(children.size == 1, "graft_canon_double takes exactly one argument")
        CanonDouble(children.head)
      }))

  def register(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    all.foreach { case (id, info, builder) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, builder)
    }
  }

  /** Array column of all `nTables` per-table LSH buckets of `embCol`
    * (table t = disjoint plane family [t*nPlanes, (t+1)*nPlanes)) — the
    * ONE definition of the multi-table plane-family layout on the engine
    * side, shared by lshTopKTuned and embeddingDupPairs; the oracle-side twin
    * is SparkEntry's bucketSqlExpr/anyTableMatchSql.
    */
  def tableBuckets(embCol: String, nPlanes: Int, nTables: Int): org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.array((0 until nTables).map { t =>
      org.apache.spark.sql.functions.expr(
        s"graft_hyperplane_bucket($embCol, $nPlanes, ${t * nPlanes})")
    }: _*)
}

/** `SparkSessionExtensions` hook: makes every graft function available to
  * every session when the config carries
  * `spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (org.apache.spark.sql.SparkSessionExtensions => Unit) {
  override def apply(ext: org.apache.spark.sql.SparkSessionExtensions): Unit =
    GraftFunctions.all.foreach(ext.injectFunction)
}
