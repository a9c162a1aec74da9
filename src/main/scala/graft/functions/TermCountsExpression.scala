package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** One-pass per-row term-frequency kernel: tokenize → sort → run-length,
  * emitting `array<struct<term,cnt>>` exactly like the Column HOF
  * formulation it replaces (`graft.KernelTwins.termCountsHof`, the
  * spec-side twin).
  *
  * Why a native expression: Catalyst does NOT common-subexpression-
  * eliminate into lambda scopes, so the HOF form's
  * `element_at(array_sort(tokens(text)), i)` re-tokenizes and re-sorts
  * the document for EVERY element of every filter/zip_with lambda —
  * O(n²·log n) per row. That made BM25 over 5,000 ~50-token documents
  * take minutes. This kernel is one tokenize + one sort + one
  * run-length pass per row, inside whole-stage codegen.
  *
  * Bit-fidelity with the HOF form (TfIdfSpec pins it):
  *   - lowercase via `UTF8String.toLowerCase` — the same call Spark's
  *     `lower` makes;
  *   - whitespace = Java regex `\s` under default flags, i.e. the ASCII
  *     set `[ \t\n\x0B\f\r]` (the HOF form's `regexp_replace(\s+, " ")`
  *     collapse); all six are single-byte in UTF-8, so byte scanning is
  *     exact;
  *   - an empty / all-whitespace document yields the single empty token
  *     `""` (split-on-space of an empty string), cnt 1;
  *   - sort order is `UTF8String.compareTo` — the binary ordering
  *     `array_sort` uses for strings.
  */
object TermCountsKernel {
  private def isWs(b: Byte): Boolean =
    b == 0x20 || (b >= 0x09 && b <= 0x0d)

  def eval(text: UTF8String): ArrayData = {
    val b = text.toLowerCase.getBytes
    val toks = new java.util.ArrayList[UTF8String](16)
    var i = 0
    val n = b.length
    while (i < n) {
      while (i < n && isWs(b(i))) i += 1
      if (i < n) {
        val s = i
        while (i < n && !isWs(b(i))) i += 1
        toks.add(UTF8String.fromBytes(b, s, i - s))
      }
    }
    if (toks.isEmpty) toks.add(UTF8String.EMPTY_UTF8)
    val arr = toks.toArray(new Array[UTF8String](toks.size))
    java.util.Arrays.sort(arr,
      (x: UTF8String, y: UTF8String) => x.compareTo(y))
    val out = new java.util.ArrayList[AnyRef](arr.length)
    var j = 0
    while (j < arr.length) {
      var k = j + 1
      while (k < arr.length && arr(k).equals(arr(j))) k += 1
      out.add(new GenericInternalRow(Array[Any](arr(j), k - j)))
      j = k
    }
    new GenericArrayData(out.toArray)
  }
}

/** graft_term_counts(text): per-document distinct (term, cnt) pairs in
  * sorted term order — the TF half of TF-IDF/BM25, zero shuffle, one
  * kernel call per row. */
case class TermCounts(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {
  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("term", StringType), StructField("cnt", IntegerType))))
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "graft_term_counts"

  override def nullSafeEval(input: Any): Any =
    TermCountsKernel.eval(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.TermCountsKernel.eval($c)")

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}
