package graft.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.sql.Column
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass token n-gram builder — the shared kernel under every
  * shingle/bigram text operator (MinHash shingles, contamination,
  * containment, repetition). Replaces the interpreted
  * `transform(sequence(...), i -> concat_ws(" ", slice/element_at ...))`
  * HOF chain, which profiling showed dominates those scans (the
  * interpreted lambda allocates per step; at sf0.1 the bigram transform
  * alone costs more than the rest of llm_repetition's plan).
  *
  * Semantics are EXACTLY the HOF formulation it replaces, pinned
  * bit-equal in LlmOpsSpec:
  *  - tokens are the `split(text, " ", -1)` spans (empty tokens from
  *    doubled/leading/trailing spaces included);
  *  - an n-gram is k consecutive tokens joined by single spaces — which
  *    over space-split spans is literally a SUBSTRING of the input, so
  *    each n-gram is one `UTF8String.fromBytes` view over the row's
  *    byte array, no per-token allocation;
  *  - `keepDistinct` keeps first occurrences only (array_distinct
  *    order);
  *  - documents shorter than k tokens yield `[text]` when `shortWhole`
  *    (the shingle convention: a short doc is its own shingle) or `[]`
  *    otherwise (the repetition convention: no bigrams to count).
  */
case class NGrams(child: Expression, k: Int, keepDistinct: Boolean, shortWhole: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams expects a string input, got ${t.catalogString}")
  }

  override protected def nullSafeEval(a: Any): Any =
    NGrams.compute(a.asInstanceOf[UTF8String], k, keepDistinct, shortWhole)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cls = NGrams.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = $cls.compute($a, $k, $keepDistinct, $shortWhole);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)

  override def prettyName: String = "graft_ngrams"
}

object NGrams {

  /** One pass over the row's UTF-8 bytes: record token boundaries (a
    * token begins at offset 0 and after every 0x20), then emit each
    * n-gram as a `fromBytes` view from token i's start to token
    * i+k-1's end. Multi-byte UTF-8 never encodes 0x20 as a
    * continuation byte, so byte scanning is correct for arbitrary
    * text. Called from generated code. */
  def compute(text: UTF8String, k: Int, keepDistinct: Boolean, shortWhole: Boolean): ArrayData = {
    val bytes = text.getBytes // one defensive copy per row
    val nBytes = bytes.length
    var nToks = 1
    var i = 0
    while (i < nBytes) {
      if (bytes(i) == 0x20) nToks += 1
      i += 1
    }
    if (nToks < k) {
      return if (shortWhole) new GenericArrayData(Array[Any](UTF8String.fromBytes(bytes)))
      else new GenericArrayData(Array.empty[Any])
    }
    val starts = new Array[Int](nToks)
    val ends = new Array[Int](nToks)
    var t = 0
    var tokStart = 0
    i = 0
    while (i < nBytes) {
      if (bytes(i) == 0x20) {
        starts(t) = tokStart; ends(t) = i; t += 1
        tokStart = i + 1
      }
      i += 1
    }
    starts(t) = tokStart; ends(t) = nBytes
    val n = nToks - k + 1
    if (keepDistinct) {
      val seen = new java.util.LinkedHashSet[UTF8String](n * 2)
      var j = 0
      while (j < n) {
        seen.add(UTF8String.fromBytes(bytes, starts(j), ends(j + k - 1) - starts(j)))
        j += 1
      }
      val out = new Array[Any](seen.size())
      val it = seen.iterator()
      var m = 0
      while (it.hasNext) { out(m) = it.next(); m += 1 }
      new GenericArrayData(out)
    } else {
      val out = new Array[Any](n)
      var j = 0
      while (j < n) {
        out(j) = UTF8String.fromBytes(bytes, starts(j), ends(j + k - 1) - starts(j))
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  /** The one builder, for SQL text ([[GraftExtensions]]) and [[ngrams]]:
    * validates arity and that args 2-4 are non-null foldable literals of
    * the right type with k >= 1 — blind eval-and-cast surfaced raw
    * ClassCastException / eval-on-attribute errors (and a null k
    * silently became 0, which crashed per-row at execution). */
  def build(exprs: Seq[Expression]): NGrams = {
    def fail(msg: String) = throw new IllegalArgumentException(
      s"graft_ngrams(text, k INT, keepDistinct BOOLEAN, shortWhole BOOLEAN): $msg")
    if (exprs.length != 4) fail(s"expected 4 arguments, got ${exprs.length}")
    def lit[T](i: Int, t: org.apache.spark.sql.types.DataType, what: String): T = {
      val e = exprs(i)
      if (!e.foldable || e.dataType != t) fail(s"argument ${i + 1} ($what) " +
        s"must be a $t literal, got ${e.sql}: ${e.dataType.catalogString}")
      val v = e.eval(null)
      if (v == null) fail(s"argument ${i + 1} ($what) must not be NULL")
      v.asInstanceOf[T]
    }
    val k = lit[Int](1, org.apache.spark.sql.types.IntegerType, "k")
    if (k < 1) fail(s"k must be >= 1, got $k")
    NGrams(exprs(0), k,
      lit[Boolean](2, org.apache.spark.sql.types.BooleanType, "keepDistinct"),
      lit[Boolean](3, org.apache.spark.sql.types.BooleanType, "shortWhole"))
  }

  /** `graft_ngrams(text, k, keepDistinct, shortWhole)` as a Column,
    * through the same validation as SQL text. */
  def ngrams(text: Column, k: Int, keepDistinct: Boolean, shortWhole: Boolean): Column =
    Bridge.column(build(Seq(Bridge.expression(text),
      Literal(k), Literal(keepDistinct), Literal(shortWhole))))
}
