package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the similarity kernels (SURVEY.md §7.4:
  * "custom Expression (with doGenCode) only for hot scalar semantics …
  * the north-star similarity kernel (dot/cosine over array<float>)").
  *
  * Whole-stage-codegen'd tight loops over `ArrayData` — no per-pair array
  * allocation, unlike the `zip_with`+`aggregate` composition (whose lambda
  * elements are interpreted). Summation is sequential left-to-right, so
  * results are bit-identical to the fold-based versions in
  * `graft.operators.Similarity`.
  *
  * Null contract: NULL if either array is NULL; element nulls are not
  * expected (embedding columns are dense) and read as 0.0.
  */
case class VectorDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"requires two array<double> arguments, got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var s = 0.0
    var i = 0
    while (i < n) { s += x.getDouble(i) * y.getDouble(i); i += 1 }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |${ev.value} = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  ${ev.value} += $a.getDouble($i) * $b.getDouble($i);
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** One-pass cosine similarity: dot / (sqrt(Σa²)·sqrt(Σb²)). */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"requires two array<double> arguments, got ${l.simpleString} and ${r.simpleString}")
    }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getDouble(i); val yv = y.getDouble(i)
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $a.getDouble($i); double $yv = $b.getDouble($i);
         |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
         |}
         |${ev.value} = $dot / (java.lang.Math.sqrt($na) * java.lang.Math.sqrt($nb));
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Column-level entry points for the native kernels.
  *
  * Spark 4 keeps Expression→Column plumbing private, so the public route
  * is function-registry registration + `call_function`. The functions are
  * the rows of [[graft.GraftExtensions.functions]], which a session built
  * with `GraftExtensions` (every `SparkEntry.session`) has.
  */
object VectorFunctions {

  /** Requires a session built with `GraftExtensions`. */
  def vector_dot(a: Column, b: Column): Column = call_function("vector_dot", a, b)
  def cosine_sim(a: Column, b: Column): Column = call_function("cosine_sim", a, b)
  def simhash64(hashes: Column): Column = call_function("simhash64", hashes)
  def fingerprint64(text: Column): Column = call_function("fingerprint64", text)
  def nfcNormalize(text: Column): Column = call_function("nfc_normalize", text)
  def nfkcNormalize(text: Column): Column = call_function("nfkc_normalize", text)
  def hyperplane_sigs(vec: Column, dim: Int, numPlanes: Int, numTables: Int,
      seed: Long): Column =
    call_function("hyperplane_sigs", vec,
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(numPlanes),
      org.apache.spark.sql.functions.lit(numTables),
      org.apache.spark.sql.functions.lit(seed))

  /** Top-`r` nearest cells (1-based, score desc, ties → lower cell) of
    * `vec` against a flat nlist×dim centroid matrix. The matrix ships as
    * one array literal → codegen reference object (see
    * [[CentroidTopCells]]). */
  def centroid_top_cells(vec: Column, flatCentroids: Array[Double], dim: Int,
      r: Int): Column =
    call_function("centroid_top_cells", vec,
      org.apache.spark.sql.functions.lit(flatCentroids),
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(r))

  /** Two-level variant — see [[CentroidTopCellsNested]]. `cells` must be
    * group-contiguous per `offsets`; `ids` maps positions back to
    * 1-based original cell ids. */
  def centroid_top_cells_nested(vec: Column, flatGroups: Array[Double],
      flatCells: Array[Double], offsets: Array[Int], ids: Array[Int],
      dim: Int, groupProbes: Int, r: Int): Column =
    call_function("centroid_top_cells_nested", vec,
      org.apache.spark.sql.functions.lit(flatGroups),
      org.apache.spark.sql.functions.lit(flatCells),
      org.apache.spark.sql.functions.lit(offsets),
      org.apache.spark.sql.functions.lit(ids),
      org.apache.spark.sql.functions.lit(dim),
      org.apache.spark.sql.functions.lit(groupProbes),
      org.apache.spark.sql.functions.lit(r))
}
