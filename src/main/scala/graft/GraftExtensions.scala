package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Cast, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType}
import graft.functions._

/** SparkSessionExtensions hook — the analogue of the reference's addon
  * system (`src/htsql/core/addon.py`): drop-in registration of the engine's
  * native functions into any Spark session, including plain `spark.sql`.
  *
  * {{{
  * val spark = SparkEntry.session("app", cpus = 4) // applies this extension
  * spark.sql("SELECT cosine_sim(a.embedding, b.embedding) FROM ...")
  * }}}
  *
  * Also registrable via config:
  * `spark.sql.extensions=graft.GraftExtensions`.
  *
  * The functions themselves live in ONE table, [[GraftExtensions.functions]],
  * with one installer: this extension injects every entry when a session
  * is built. Every session the engine uses is built with it
  * (`SparkEntry.session`, the benchmark's own builder), and the children
  * of such a session (`newSession()`, a streaming query's clone) inherit
  * its functions.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(e.injectFunction)
}

object GraftExtensions {

  /** The arguments of one call, named for its error messages.
    *
    * Shape arguments arrive as whatever literal the SQL author typed —
    * `42` binds as IntegerType where the kernel wants a Long, `array(1.0,
    * 0.0)` can carry DECIMAL elements — so raw asInstanceOf would throw
    * bare ClassCastExceptions on perfectly natural spellings. Each shape
    * arg is therefore checked foldable and COERCED through Cast at bind
    * time; violations raise a message that names the function and
    * position.
    */
  private final class Args(name: String, args: Seq[Expression]) {
    def apply(pos: Int): Expression = args(pos)

    private def fold(pos: Int, dt: DataType): Any = {
      if (!args(pos).foldable)
        throw new IllegalArgumentException(
          s"$name argument ${pos + 1} must be a literal (shape args are " +
            "evaluated once at bind time)")
      val v = Cast(args(pos), dt).eval()
      if (v == null)
        throw new IllegalArgumentException(
          s"$name argument ${pos + 1} is not castable to ${dt.simpleString}")
      v
    }

    def int(pos: Int): Int = fold(pos, IntegerType).asInstanceOf[Int]
    def long(pos: Int): Long = fold(pos, LongType).asInstanceOf[Long]
    def doubles(pos: Int): Array[Double] =
      fold(pos, ArrayType(DoubleType)).asInstanceOf[ArrayData].toDoubleArray()
    def ints(pos: Int): Array[Int] =
      fold(pos, ArrayType(IntegerType)).asInstanceOf[ArrayData].toIntArray()
  }

  /** One table entry. A wrong argument count raises a message that names
    * the function, not a raw IndexOutOfBounds mid-analysis. */
  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Args => Expression): (FunctionIdentifier, ExpressionInfo, FunctionBuilder) =
    (FunctionIdentifier(name),
      new ExpressionInfo(cls.getName, null, name, usage, "", "", "", "", "4.0.0", "", "scala_udf"),
      (args: Seq[Expression]) => {
        if (args.length != arity)
          throw new IllegalArgumentException(
            s"$name expects $arity arguments, got ${args.length}")
        build(new Args(name, args))
      })

  /** The engine's native functions; column entry points are in
    * `VectorFunctions` and `BloomFunctions`. */
  private[graft] val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("vector_dot", classOf[VectorDot], 2,
      "vector_dot(a, b) - dot product of two double arrays")(
      a => VectorDot(a(0), a(1))),
    fn("cosine_sim", classOf[CosineSim], 2,
      "cosine_sim(a, b) - cosine similarity of two double arrays")(
      a => CosineSim(a(0), a(1))),
    fn("simhash64", classOf[SimHash64], 1,
      "simhash64(hashes) - 64-bit SimHash of an array of token hashes")(
      a => SimHash64(a(0))),
    fn("fingerprint64", classOf[Fingerprint64], 1,
      "fingerprint64(text) - rolling-hash document fingerprint mod 1e9+7")(
      a => Fingerprint64(a(0))),
    fn("nfc_normalize", classOf[UnicodeNormalize], 1,
      "nfc_normalize(text) - Unicode NFC canonical composition")(
      a => UnicodeNormalize(a(0), "NFC")),
    fn("nfkc_normalize", classOf[UnicodeNormalize], 1,
      "nfkc_normalize(text) - Unicode NFKC compatibility composition")(
      a => UnicodeNormalize(a(0), "NFKC")),
    // shape-arg kernels: shape args must be foldable literals, evaluated
    // once at bind time
    fn("hyperplane_sigs", classOf[HyperplaneSigs], 5,
      "hyperplane_sigs(vec, dim, numPlanes, numTables, seed) - per-table LSH signature array")(
      a => HyperplaneSigs(a(0), a.int(1), a.int(2), a.int(3), a.long(4))),
    // the trained centroid matrix arrives as ONE foldable array literal
    // (nlist×dim flat) and becomes a codegen reference object — the plan
    // carries it once, never per-centroid
    fn("centroid_top_cells", classOf[CentroidTopCells], 4,
      "centroid_top_cells(vec, flatCentroids, dim, r) - top-r nearest-centroid cell ids")(
      a => CentroidTopCells(a(0), a.doubles(1), a.int(2), a.int(3))),
    fn("centroid_top_cells_nested", classOf[CentroidTopCellsNested], 8,
      "centroid_top_cells_nested(vec, groups, cells, offsets, ids, dim, probes, r) - two-level top-r cells")(
      a => CentroidTopCellsNested(a(0), a.doubles(1), a.doubles(2), a.ints(3),
        a.ints(4), a.int(5), a.int(6), a.int(7))),
    // Spark's own Bloom-filter pair over 64-bit hashes (see BloomFunctions)
    fn("bloom_agg", classOf[BloomFilterAggregate], 3,
      "bloom_agg(hash, estimatedItems, numBits) - serialized Bloom filter over 64-bit hashes")(
      a => new BloomFilterAggregate(a(0), a(1), a(2))),
    fn("bloom_might_contain", classOf[BloomFilterMightContain], 2,
      "bloom_might_contain(filterBytes, hash) - Bloom-filter membership of a 64-bit hash")(
      a => BloomFilterMightContain(a(0), a(1))))
}
