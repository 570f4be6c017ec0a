package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Unicode normalization (UAX #15) as a native codegen'd expression — the
  * first step of corpus text canonicalization: content-defined identity
  * (fingerprints, exact dedup, overlap digests) must not distinguish
  * `e` + COMBINING ACUTE from the precomposed `é`, or the same document
  * re-crawled through a different encoder pipeline counts as new content.
  *
  * Two forms ship:
  *   - NFC (canonical composition) — identity-safe: no character loses
  *     information, so it is the default for content digests, and the
  *     DuckDB oracle replays it exactly (`nfc_normalize`).
  *   - NFKC (compatibility composition) — the LOSSY fold real tokenizer
  *     pipelines run before BPE (ligature ﬁ → fi, fullwidth Ａ → A,
  *     superscripts, width variants): it merges visually-equivalent spam
  *     variants a crawler sees. No DuckDB twin exists, so the NFKC path
  *     is spec-pinned rather than oracle-hashed.
  *
  * Spark has no built-in for either, and the repo rule ranks a native
  * `Expression` above a UDF: this is one static JDK call
  * (`java.text.Normalizer`) per row inside whole-stage codegen, with an
  * `isNormalized` fast path so the (overwhelmingly common) already-
  * normalized row pays a scan, not an allocation. Normalization is
  * stable across Unicode versions for assigned code points, so the JDK
  * result matches any other compliant implementation byte-for-byte.
  *
  * Null → null; already-normalized strings return the input buffer
  * untouched.
  */
case class UnicodeNormalize(child: Expression, formName: String)
    extends UnaryExpression {

  require(formName == "NFC" || formName == "NFKC" || formName == "NFD"
    || formName == "NFKD", s"unsupported normalization form: $formName")

  @transient private lazy val form = java.text.Normalizer.Form.valueOf(formName)

  override def dataType: DataType = StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"requires a string argument, got ${t.simpleString}")
  }

  override def nullSafeEval(input: Any): Any = {
    val s = input.asInstanceOf[UTF8String].toString
    if (java.text.Normalizer.isNormalized(s, form)) input
    else UTF8String.fromString(java.text.Normalizer.normalize(s, form))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s => {
      val str = ctx.freshName("str")
      val f = s"java.text.Normalizer.Form.$formName"
      // NOTE (codegen formatting rule): no generated line may begin with
      // a pipe — downstream templates re-stripMargin the assembled source.
      s"""
         |String $str = $s.toString();
         |if (java.text.Normalizer.isNormalized($str, $f)) {
         |  ${ev.value} = $s;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.text.Normalizer.normalize($str, $f));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
