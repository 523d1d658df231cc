package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern exact-match kernel (Aho–Corasick) — the documented
  * upgrade path for [[graft.text.TextAnalysis.canaryScan]] beyond a few
  * dozen trap phrases (SURVEY.md ⊕A41; the `term_counts` precedent of
  * fusing a per-row hot loop into one native Expression).
  *
  * `canary_hits(text, array(p0, p1, ...))` returns, per row, an array of
  * structs `(idx, n_hits, first_pos)` — one entry per pattern that occurs
  * in the text, in pattern-index order:
  *   - `idx`: 0-based index into the pattern list;
  *   - `n_hits`: NON-overlapping occurrence count scanning left-to-right —
  *     exactly the `(length(t) - length(replace(t, p, ''))) / length(p)`
  *     idiom the per-pattern form and the DuckDB oracle use (code-point
  *     lengths cancel, so the equality is encoding-independent);
  *   - `first_pos`: 1-based CODE-POINT position of the first occurrence,
  *     exactly `locate(p, t)` / `strpos(t, p)`.
  *
  * The contains/replace/locate formulation walks each document 3×N_patterns
  * times; this kernel walks it ONCE for all patterns (goto/fail automaton),
  * then does O(matched patterns) bookkeeping. The automaton is built lazily
  * per (deserialized) expression instance from the literal pattern list —
  * a few KB; the text loop allocates nothing until output rows are built.
  */
case class CanaryHits(child: Expression, patterns: Seq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a string column, got ${child.dataType.simpleString}")
    else if (patterns.isEmpty || patterns.exists(_.isEmpty))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires non-empty patterns")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = CanaryHits.outType
  override def prettyName: String = "canary_hits"
  override def nullable: Boolean = child.nullable

  @transient private lazy val automaton = new CanaryHits.Automaton(patterns.toArray)

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null else automaton.compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ac = ctx.addReferenceObj("automaton", automaton,
      classOf[CanaryHits.Automaton].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ac.compute($c);")
  }

  override protected def withNewChildInternal(newChild: Expression): CanaryHits =
    copy(child = newChild)
}

object CanaryHits {
  val outType: ArrayType = ArrayType(StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("n_hits", LongType, nullable = false),
    StructField("first_pos", LongType, nullable = false))), containsNull = false)

  /** Classic goto/fail/output automaton over Java chars. Built once per
    * expression instance (driver side for codegen — it rides the codegen
    * references array to executors). Serializable: plain arrays + boxed
    * maps only. */
  final class Automaton(val patterns: Array[String]) extends Serializable {
    // trie nodes; children as per-node hash maps (pattern alphabets are
    // tiny, the text loop does one map lookup per char after fail chains)
    private val children =
      new java.util.ArrayList[java.util.HashMap[Character, Integer]]()
    private val fail = new java.util.ArrayList[Integer]()
    // pattern indices ending at each node, INCLUDING via fail-link closure
    private val out = new java.util.ArrayList[Array[Int]]()

    private def newNode(): Int = {
      children.add(new java.util.HashMap[Character, Integer]())
      fail.add(0)
      out.add(Array.emptyIntArray)
      children.size() - 1
    }

    { // build: trie, then BFS fail links with output closure
      newNode() // root = 0
      patterns.zipWithIndex.foreach { case (p, pi) =>
        var st = 0
        var i = 0
        while (i < p.length) {
          val c = Character.valueOf(p.charAt(i))
          var nxt = children.get(st).get(c)
          if (nxt == null) { nxt = newNode(); children.get(st).put(c, nxt) }
          st = nxt
          i += 1
        }
        out.set(st, out.get(st) :+ pi)
      }
      val queue = new java.util.ArrayDeque[Integer]()
      children.get(0).forEach { (_, v) => fail.set(v, 0); queue.add(v) }
      while (!queue.isEmpty) {
        val u = queue.poll()
        children.get(u).forEach { (c, v) =>
          var f = fail.get(u).intValue()
          while (f != 0 && !children.get(f).containsKey(c)) f = fail.get(f)
          val fv = children.get(f).get(c)
          val link = if (fv != null && fv != v) fv.intValue() else 0
          fail.set(v, link)
          if (out.get(link).nonEmpty)
            out.set(v.intValue(), out.get(v) ++ out.get(link))
          queue.add(v)
        }
      }
    }

    /** One pass over the text; per matched pattern: greedy non-overlapping
      * count + first-match char offset, then char→code-point conversion
      * only for the (few) matched patterns. */
    def compute(text: UTF8String): ArrayData = {
      val s = text.toString
      val np = patterns.length
      // -1 = unseen; else first match's char start
      val firstStart = new Array[Int](np)
      java.util.Arrays.fill(firstStart, -1)
      val nextAllowed = new Array[Int](np) // next char index a non-overlapping match may start at
      val counts = new Array[Long](np)
      var st = 0
      var i = 0
      while (i < s.length) {
        val c = Character.valueOf(s.charAt(i))
        while (st != 0 && !children.get(st).containsKey(c)) st = fail.get(st)
        val nxt = children.get(st).get(c)
        st = if (nxt == null) 0 else nxt.intValue()
        val hits = out.get(st)
        var h = 0
        while (h < hits.length) {
          val pi = hits(h)
          val start = i - patterns(pi).length + 1
          if (firstStart(pi) < 0) firstStart(pi) = start
          if (start >= nextAllowed(pi)) {
            counts(pi) += 1L
            nextAllowed(pi) = i + 1
          }
          h += 1
        }
        i += 1
      }
      var nOut = 0
      var pi = 0
      while (pi < np) { if (counts(pi) > 0) nOut += 1; pi += 1 }
      val rows = new Array[Any](nOut)
      var j = 0
      pi = 0
      while (pi < np) {
        if (counts(pi) > 0) {
          rows(j) = new GenericInternalRow(Array[Any](
            pi, counts(pi),
            // locate()/strpos() count code points, the char loop counts
            // UTF-16 units: convert at output, once per matched pattern
            s.codePointCount(0, firstStart(pi)).toLong + 1L))
          j += 1
        }
        pi += 1
      }
      new GenericArrayData(rows)
    }
  }

  /** The `GraftExtensions` catalog's builder (arity already checked): the
    * pattern array must be foldable (literals) — it defines the automaton,
    * a plan-time constant by construction. A null array or null elements
    * are rejected here with the same message, not left to NPE inside
    * eval(). */
  def build(children: Seq[Expression]): CanaryHits = {
    val pats = children(1) match {
      case e if e.foldable && e.dataType.isInstanceOf[ArrayType] &&
          e.dataType.asInstanceOf[ArrayType].elementType == StringType =>
        val arr = e.eval()
        if (arr == null) throw new IllegalArgumentException(
          "canary_hits: patterns must be a non-null foldable string array")
        arr.asInstanceOf[ArrayData].toArray[UTF8String](StringType).map { u =>
          if (u == null) throw new IllegalArgumentException(
            "canary_hits: patterns must not contain null elements")
          u.toString
        }.toSeq
      case other => throw new IllegalArgumentException(
        s"canary_hits: patterns must be a foldable string array, got $other")
    }
    CanaryHits(children(0), pats)
  }

  /** Column-level door. */
  def canaryHits(text: Column, patterns: Seq[String]): Column =
    Bridge.columnOf(CanaryHits(Bridge.expressionOf(text), patterns))
}
