package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, ArrayData, GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, IntegerType, LongType, MapType, StringType}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst kernels for the two text-analysis hot paths the bench
  * flagged (SURVEY.md §4 tier-(b) Expression, same justification as
  * [[CosineSimilarity]]): the built-in higher-order-function formulations
  * are evaluated interpretively per element — for a 50-word document,
  * `repetitionRatio` walks ~150 lambda frames to build+join+dedup the gram
  * array, and `simhash16` folds the word array 16 times. Each kernel here
  * is one fused loop compiled into WholeStageCodegen.
  *
  * Both keep the HOF formulations' EXACT semantics (incl. null → 1.0 /
  * all-zero signature, Spark HALF_UP rounding, md5-hex bit derivation) so
  * results stay hash-identical to the DuckDB oracle and to the portable
  * `*Hof` reference implementations they replace in the hot path.
  */
case class RepetitionRatio(child: Expression, k: Int) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, positive gram size), got " +
        s"${child.dataType.simpleString} with k=$k")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "repetition_ratio"
  // a null document has no repeated k-gram: the HOF form's when/otherwise
  // chain yields 1.0, never null — so this expression is non-nullable
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) 1.0
    else RepetitionRatio.compute(v.asInstanceOf[UTF8String], k)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = 1.0;
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.RepetitionRatio.compute(${c.value}, $k);
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): RepetitionRatio =
    copy(child = newChild)
}

object RepetitionRatio {
  /** Shared by interpreted eval and generated code. Tokenization matches
    * `filter(split(text, " "), _ =!= "")`: single-space separator, empty
    * tokens dropped. Ratio = distinct/total word k-grams, Spark-round
    * (HALF_UP) to 6 decimals; fewer than k words ⇒ 1.0. */
  def compute(text: UTF8String, k: Int): Double = {
    val s = text.toString
    val parts = s.split(" ")
    val words = new Array[String](parts.length)
    var n = 0
    var i = 0
    while (i < parts.length) {
      if (!parts(i).isEmpty) { words(n) = parts(i); n += 1 }
      i += 1
    }
    if (n < k) return 1.0
    val total = n - k + 1
    val seen = new java.util.HashSet[String](total * 2)
    var distinct = 0
    val sb = new java.lang.StringBuilder
    i = 0
    while (i < total) {
      sb.setLength(0)
      var j = 0
      while (j < k) {
        if (j > 0) sb.append(' ')
        sb.append(words(i + j))
        j += 1
      }
      if (seen.add(sb.toString)) distinct += 1
      i += 1
    }
    // identical to Spark's round(col, 6) on DoubleType (BigDecimal HALF_UP)
    java.math.BigDecimal.valueOf(distinct.toDouble / total)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** 16-bit SimHash signature as a '0'/'1' string — bit i = 1 iff
  * Σ_words (±1 from the high bit of hex digit i of md5(word)) > 0.
  * Bit-identical to the staged-HOF form ([[graft.dedup.Dedup.simhash16Hof]])
  * and the oracle SQL: hex digit i (1-based) of the md5 hex string is the
  * high (odd i) / low (even i) nibble of digest byte (i-1)/2, and
  * "digit in 8..f" ⇔ nibble ≥ 8. */
case class SimHash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string argument, got ${child.dataType.simpleString}")

  override def dataType: DataType = StringType
  override def prettyName: String = "simhash16"
  // null text ⇒ every bit-sum is 0 ⇒ all-zero signature (the HOF form's
  // when/otherwise emits '0' per bit on null input), never null
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) SimHash16.ZEROS
    else SimHash16.compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = graft.functions.SimHash16.zeros();
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.SimHash16.compute(${c.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): SimHash16 =
    copy(child = newChild)
}

object SimHash16 {
  val ZEROS: UTF8String = UTF8String.fromString("0" * 16)

  /** Method (not field) access for generated Java: Scala object vals have
    * no static field forwarder, so codegen must call a static method. */
  def zeros(): UTF8String = ZEROS

  // one digest instance per executor thread; reset() per word is free
  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    val counters = new Array[Int](16)
    val digest = md.get()
    val len = s.length
    var start = 0
    var i = 0
    while (i <= len) {
      if (i == len || s.charAt(i) == ' ') {
        if (i > start) { // empty tokens dropped, same as the split+filter form
          digest.reset()
          val h = digest.digest(s.substring(start, i).getBytes(StandardCharsets.UTF_8))
          var b = 0
          while (b < 16) {
            val byteV = h(b >> 1) & 0xff
            val nib = if ((b & 1) == 0) byteV >>> 4 else byteV & 0xf
            counters(b) += (if (nib >= 8) 1 else -1)
            b += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    val chars = new Array[Char](16)
    var b = 0
    while (b < 16) {
      chars(b) = if (counters(b) > 0) '1' else '0'
      b += 1
    }
    UTF8String.fromString(new String(chars))
  }
}

/** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken, SIGMOD'03
  * "Winnowing: Local Algorithms for Document Fingerprinting"): hash every
  * char `k`-gram with a Rabin-Karp ROLLING polynomial hash (O(1) per gram
  * after the first — the built-in alternative re-hashes every gram from
  * scratch, O(k) each), then keep the minimum hash of every `w`-gram window
  * (monotonic-deque sliding min, O(1) amortized). Output is the doc's
  * sorted distinct fingerprint set — sharing a fingerprint means sharing a
  * verbatim `k`-char run, the candidate signal for near-dup detection.
  *
  * One fused O(n) loop per row inside WholeStageCodegen. Value-identical
  * to the staged-HOF twin ([[graft.text.TextAnalysis.winnowFingerprintsHof]])
  * and to the DuckDB oracle formulation (code-point hashing, same window
  * scheme: `max(1, grams - w + 1)` windows, a shorter-than-`w` tail doc
  * still yields one fingerprint). Null / shorter-than-`k` text ⇒ empty
  * array, never null. Hash = fold (h*131 + codepoint) mod 1e9+7: the
  * modulus keeps every intermediate in BIGINT range so the identical
  * arithmetic runs on any ANSI SQL engine. */
case class WinnowFingerprints(child: Expression, k: Int, w: Int)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && k >= 1 && w >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, positive gram size, positive window), " +
        s"got ${child.dataType.simpleString} with k=$k w=$w")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "winnow_fps"
  // null text fingerprints to the empty set, never null
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) WinnowFingerprints.empty()
    else WinnowFingerprints.compute(v.asInstanceOf[UTF8String], k, w)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = graft.functions.WinnowFingerprints.empty();
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.WinnowFingerprints.compute(${c.value}, $k, $w);
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): WinnowFingerprints =
    copy(child = newChild)
}

object WinnowFingerprints {
  private val EMPTY: ArrayData = new GenericArrayData(Array.emptyLongArray)
  /** Method (not field): generated Java needs a static call. */
  def empty(): ArrayData = EMPTY

  private val B = 131L
  private val P = 1000000007L

  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    // code points, not UTF-16 units: matches ANSI `unicode(char)` hashing
    val cp = text.toString.codePoints().toArray
    val n = cp.length
    if (n < k) return EMPTY
    val g = n - k + 1
    val grams = new Array[Long](g)
    var pow = 1L // B^(k-1) mod P: weight of the outgoing char
    var i = 1
    while (i < k) { pow = pow * B % P; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = (h * B + cp(i)) % P; i += 1 }
    grams(0) = h
    i = 1
    while (i < g) {
      // roll: drop cp(i-1), shift, append cp(i+k-1) — O(1) per gram
      h = ((h - cp(i - 1) * pow % P + P) % P * B + cp(i + k - 1)) % P
      grams(i) = h
      i += 1
    }
    // sliding min over w grams via monotonic deque (indices, values
    // increasing front to back): O(g) total. Windows complete at indices
    // min(w,g)-1 .. g-1, so a doc with fewer than w grams still emits the
    // min of what it has (the winnowing paper's tail guarantee).
    val dq = new Array[Int](g)
    var head = 0
    var tail = 0
    val firstComplete = math.min(w, g) - 1
    val set = new java.util.HashSet[java.lang.Long]()
    i = 0
    while (i < g) {
      while (tail > head && grams(dq(tail - 1)) >= grams(i)) tail -= 1
      dq(tail) = i
      tail += 1
      if (dq(head) <= i - w) head += 1
      if (i >= firstComplete) set.add(grams(dq(head)))
      i += 1
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = it.next(); i += 1 }
    java.util.Arrays.sort(out)
    new GenericArrayData(out)
  }
}

/** Exact character-`n`-gram SET Jaccard of two strings in one fused kernel.
  * The staged form (`transform`+`array_distinct` per side, then
  * `array_intersect` at the pair) runs entirely in interpreted
  * higher-order-function evaluation — ~3.5 s for 5k pairs of 300-char docs
  * at sf0.1 — while this kernel builds both gram hash-sets and counts the
  * intersection in O(|a|+|b|) inside WholeStageCodegen (~0.3 s same data).
  * Grams are by code point (matches Spark/DuckDB `substring` character
  * semantics); a null input is the empty gram set; two empty sets define
  * jaccard 0 — result is never null, and a round(x, 6) HALF_UP matches the
  * oracle SQL exactly. */
case class CharGramJaccard(left: Expression, right: Expression, n: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == StringType && right.dataType == StringType && n >= 1)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires (string, string, positive gram size), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString}) with n=$n")

  override def dataType: DataType = DoubleType
  override def prettyName: String = "chargram_jaccard"
  // null side = empty gram set; jaccard(∅, ∅) = 0 here — never null
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = left.eval(input)
    val b = right.eval(input)
    CharGramJaccard.compute(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], n)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val l = left.genCode(ctx)
    val r = right.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${l.code}
      ${r.code}
      $javaType ${ev.value} = graft.functions.CharGramJaccard.compute(
        ${l.isNull} ? null : ${l.value},
        ${r.isNull} ? null : ${r.value}, $n);""", isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CharGramJaccard =
    copy(left = newLeft, right = newRight)
}

object CharGramJaccard {
  private def grams(s: UTF8String, n: Int): java.util.HashSet[String] = {
    val set = new java.util.HashSet[String]()
    if (s == null) return set
    val cp = s.toString.codePoints().toArray
    var i = 0
    while (i + n <= cp.length) { set.add(new String(cp, i, n)); i += 1 }
    set
  }

  def compute(a: UTF8String, b: UTF8String, n: Int): Double = {
    val sa = grams(a, n)
    val sb = grams(b, n)
    val (small, large) = if (sa.size <= sb.size) (sa, sb) else (sb, sa)
    var inter = 0
    val it = small.iterator()
    while (it.hasNext) if (large.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0
    // identical to Spark's round(col, 6) on DoubleType (BigDecimal HALF_UP)
    else java.math.BigDecimal.valueOf(inter.toDouble / union)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()
  }
}

/** Per-document term-frequency map in one fused pass: whitespace-split the
  * text and count occurrences — `term_counts(text)[term] = tf`. Exactly
  * [[graft.text.TextAnalysis.words]]' tokenization (single-space delimiter,
  * empty tokens dropped), so `explode(term_counts(text))` produces the SAME
  * (term, tf) rows as explode(words)→groupBy(doc, term)→count, WITHOUT the
  * corpus-sized (doc, term) shuffle: the count happens row-locally in the
  * scan stage, and downstream shuffles start from the ~10x smaller tf rows.
  * This is THE tf staging for tfidf at 100 TB — the (doc,term) exchange it
  * deletes is the largest shuffle in the pipeline. Null text ⇒ empty map.
  * First-occurrence key order (deterministic). */
case class TermCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def dataType: DataType =
    MapType(StringType, IntegerType, valueContainsNull = false)
  override def prettyName: String = "term_counts"
  override def nullable: Boolean = false

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) TermCounts.empty()
    else TermCounts.compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = graft.functions.TermCounts.empty();
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.TermCounts.compute(${c.value});
      }""", isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): TermCounts =
    copy(child = newChild)
}

object TermCounts {
  def empty(): MapData = ArrayBasedMapData(Array.empty[Any], Array.empty[Any])

  def compute(text: UTF8String): MapData = {
    val s = text.toString
    // LinkedHashMap: first-occurrence order, deterministic across JVMs
    val m = new java.util.LinkedHashMap[String, Int]()
    var i = 0
    val n = s.length
    while (i < n) {
      while (i < n && s.charAt(i) == ' ') i += 1
      val st = i
      while (i < n && s.charAt(i) != ' ') i += 1
      if (i > st) {
        val w = s.substring(st, i)
        m.put(w, m.getOrDefault(w, 0) + 1)
      }
    }
    val keys = new Array[Any](m.size)
    val vals = new Array[Any](m.size)
    val it = m.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      keys(j) = UTF8String.fromString(e.getKey)
      vals(j) = e.getValue
      j += 1
    }
    ArrayBasedMapData(keys, vals)
  }
}

/** Single-pass span removal for exact-substring dedup (the A49/q161 tail):
  * given a document's word array and the 0-based word positions where
  * duplicated k-grams START, drop every word covered by any [s, s+k-1]
  * interval and re-join the survivors with a single space. One sorted
  * interval sweep per row replaces the explode(k)-per-start → corpus-sized
  * distinct → anti-join → collect_list reassembly pipeline, whose cost the
  * 64x ScaleCheck probe measured RISING per doc (148 → 194 µs) as dup
  * density grows — this kernel's cost is O(words + starts log starts) per
  * row regardless of density, and it deletes two shuffles from the plan.
  * Start positions arrive in collect_list order (nondeterministic): the
  * kernel sorts internally, so the result is order-independent. All words
  * covered ⇒ empty string (never null for non-null inputs). */
case class RemoveSpans(left: Expression, right: Expression, k: Int)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(IntegerType, _)) if k >= 1 =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<int>, positive k), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString}) with k=$k")
    }

  override def dataType: DataType = StringType
  override def prettyName: String = "remove_spans"

  override def nullSafeEval(words: Any, starts: Any): Any =
    RemoveSpans.compute(
      words.asInstanceOf[ArrayData], starts.asInstanceOf[ArrayData], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (w, s) =>
      s"${ev.value} = graft.functions.RemoveSpans.compute($w, $s, $k);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): RemoveSpans =
    copy(left = newLeft, right = newRight)
}

object RemoveSpans {
  def compute(words: ArrayData, starts: ArrayData, k: Int): UTF8String = {
    val n = words.numElements()
    val m = starts.numElements()
    val ss = new Array[Int](m)
    var i = 0
    while (i < m) { ss(i) = starts.getInt(i); i += 1 }
    java.util.Arrays.sort(ss)
    val kept = new java.util.ArrayList[UTF8String](n)
    var j = 0
    var coveredUntil = -1
    i = 0
    while (i < n) {
      while (j < m && ss(j) <= i) {
        val end = ss(j) + k - 1
        if (end > coveredUntil) coveredUntil = end
        j += 1
      }
      if (i > coveredUntil) kept.add(words.getUTF8String(i))
      i += 1
    }
    UTF8String.concatWs(UTF8String.fromString(" "),
      kept.toArray(new Array[UTF8String](kept.size())): _*)
  }
}

object TextFunctions {
  /** Column-level doors. */
  def repetitionRatio(text: Column, k: Int): Column =
    Bridge.columnOf(RepetitionRatio(Bridge.expressionOf(text), k))

  def simhash16(text: Column): Column =
    Bridge.columnOf(SimHash16(Bridge.expressionOf(text)))

  def winnowFps(text: Column, k: Int, w: Int): Column =
    Bridge.columnOf(WinnowFingerprints(Bridge.expressionOf(text), k, w))

  def chargramJaccard(a: Column, b: Column, n: Int): Column =
    Bridge.columnOf(CharGramJaccard(
      Bridge.expressionOf(a), Bridge.expressionOf(b), n))

  def termCounts(text: Column): Column =
    Bridge.columnOf(TermCounts(Bridge.expressionOf(text)))

  def removeSpans(words: Column, starts: Column, k: Int): Column =
    Bridge.columnOf(RemoveSpans(
      Bridge.expressionOf(words), Bridge.expressionOf(starts), k))
}
