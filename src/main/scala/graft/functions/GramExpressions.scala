package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Native word-n-gram kernels for the corpus repetition/duplication
  * operators (SURVEY §2.4 ⊕A43/⊕A44). The built-in formulation —
  * `transform(sequence(...), i -> array_join(slice(words, i, n), " "))` —
  * is evaluated interpretively: ~4 lambda frames and two array copies per
  * gram position, the exact shape the bench flagged for
  * [[RepetitionRatio]]. Each kernel here is one fused loop in
  * WholeStageCodegen.
  *
  * [[WordGrams]] keeps the HOF formulation's EXACT semantics (whitespace
  * split, empty tokens dropped, docs shorter than n words → empty array).
  * [[GramDominance]] additionally folds the per-doc gram statistics that
  * would otherwise need a groupBy(doc, gram) exchange — the top gram is a
  * WITHIN-document notion, so at 100 TB it must stay scan-stage work: this
  * kernel makes the whole of q147 shuffle-free. Tie-break is binary
  * (UTF8String) comparison — identical to `max(struct(cnt, gram))` and to
  * DuckDB's default binary collation.
  */
case class WordGrams(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.simpleString}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "word_grams"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) GramKernels.emptyArray
    else GramKernels.grams(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = graft.functions.GramKernels.emptyArray();
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.GramKernels.grams(${c.value}, $n);
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WordGrams =
    copy(child = newChild)
}

case class GramDominance(child: Expression, n: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string input, got ${child.dataType.simpleString}")
    else if (n < 1)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires n >= 1, got $n")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = GramDominance.schema
  override def prettyName: String = "gram_dominance"
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) GramKernels.emptyDominance()
    else GramKernels.dominance(v.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = graft.functions.GramKernels.emptyDominance();
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.GramKernels.dominance(${c.value}, $n);
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): GramDominance =
    copy(child = newChild)
}

object GramDominance {
  /** top_gram is the ONLY nullable field: a doc shorter than n words has
    * no grams (the zero counts are honest zeros, not unknowns). */
  val schema: StructType = StructType(Seq(
    StructField("top_gram", StringType, nullable = true),
    StructField("top_cnt", LongType, nullable = false),
    StructField("n_grams", LongType, nullable = false),
    StructField("dup_occ", LongType, nullable = false),
    StructField("total_chars", LongType, nullable = false)))

}

object GramKernels {
  def emptyArray(): GenericArrayData = new GenericArrayData(Array.empty[Any])

  def emptyDominance(): GenericInternalRow =
    new GenericInternalRow(Array[Any](null, 0L, 0L, 0L, 0L))

  /** Whitespace split with empty tokens dropped (TermCounts' loop). */
  private def splitWords(s: String): java.util.ArrayList[String] = {
    val ws = new java.util.ArrayList[String]()
    var i = 0
    val len = s.length
    while (i < len) {
      while (i < len && s.charAt(i) == ' ') i += 1
      val st = i
      while (i < len && s.charAt(i) != ' ') i += 1
      if (i > st) ws.add(s.substring(st, i))
    }
    ws
  }

  private def gramStrings(ws: java.util.ArrayList[String], n: Int): Array[String] = {
    val w = ws.size()
    if (w < n) return Array.empty[String]
    val out = new Array[String](w - n + 1)
    var i = 0
    while (i <= w - n) {
      val sb = new java.lang.StringBuilder()
      var j = 0
      while (j < n) {
        if (j > 0) sb.append(' ')
        sb.append(ws.get(i + j))
        j += 1
      }
      out(i) = sb.toString
      i += 1
    }
    out
  }

  def grams(text: UTF8String, n: Int): GenericArrayData = {
    val gs = gramStrings(splitWords(text.toString), n)
    if (gs.isEmpty) return emptyArray()
    val arr = new Array[Any](gs.length)
    var i = 0
    while (i < gs.length) { arr(i) = UTF8String.fromString(gs(i)); i += 1 }
    new GenericArrayData(arr)
  }

  def dominance(text: UTF8String, n: Int): GenericInternalRow = {
    val ws = splitWords(text.toString)
    // total_chars = length of the single-space rejoined word text
    var totalChars = 0L
    var k = 0
    while (k < ws.size()) { totalChars += ws.get(k).length; k += 1 }
    if (ws.size() > 1) totalChars += ws.size() - 1
    val gs = gramStrings(ws, n)
    if (gs.isEmpty)
      return new GenericInternalRow(Array[Any](null, 0L, 0L, 0L, totalChars))
    // LinkedHashMap: deterministic iteration (first occurrence order)
    val m = new java.util.LinkedHashMap[String, Long]()
    var i = 0
    while (i < gs.length) {
      m.put(gs(i), m.getOrDefault(gs(i), 0L) + 1L)
      i += 1
    }
    var topGram: UTF8String = null
    var topCnt = 0L
    var dupOcc = 0L
    val it = m.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val cnt = e.getValue
      if (cnt > 1) dupOcc += cnt
      // (cnt, gram) max with BINARY string order — same total order as
      // max(struct(cnt, gram)) and DuckDB's ORDER BY cnt DESC, gram DESC
      if (cnt > topCnt) {
        topCnt = cnt
        topGram = UTF8String.fromString(e.getKey)
      } else if (cnt == topCnt) {
        val g = UTF8String.fromString(e.getKey)
        if (topGram == null || g.compareTo(topGram) > 0) topGram = g
      }
    }
    new GenericInternalRow(
      Array[Any](topGram, topCnt, gs.length.toLong, dupOcc, totalChars))
  }
}

object GramFunctions {
  /** Column-level doors. */
  def wordGrams(text: Column, n: Int): Column =
    Bridge.columnOf(WordGrams(Bridge.expressionOf(text), n))

  def gramDominance(text: Column, n: Int): Column =
    Bridge.columnOf(GramDominance(Bridge.expressionOf(text), n))
}
