package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodeGenerator, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, DoubleType, LongType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** Fused per-document char+word Shannon-entropy kernel — ONE text
  * traversal replacing the exchange-based formulation entirely
  * (`TextAnalysis.entropyProfileExchange`, kept as the portable parity
  * reference). Semantics are bit-identical to the reference plan the
  * DuckDB oracle mirrors:
  *
  *  - chars = the text's code points except ' ' (what
  *    `filter(split(text, ""), c != "" && c != " ")` yields);
  *    words = `filter(split(text, " "), _ != "")`.
  *  - per distinct symbol: p = count/total (double), term =
  *    `round(p·ln p, 6)` with Spark's HALF_UP double rounding, summed
  *    EXACTLY in 1e-6 units (a long — the DECIMAL(28,6) sum);
  *  - h = `floor(-cast(sum as double)·1e6)/1e6` replayed through the
  *    same IEEE double steps as the reference plan (decimal→double cast
  *    included), so boundary docs floor identically in both engines.
  *
  * Returns null when the text is null OR either symbol set is empty (the
  * reference plan drops such docs; callers filter isNotNull). The whole
  * operator is scan-stage map work — no explode, no aggregation, no
  * window, NO EXCHANGE — so the single-host spill knee the exchange
  * formulation hits (~2M docs/host: first the doc-keyed window sort,
  * then the (doc,symbol) hash-agg fallback sort) structurally cannot
  * exist, and unlike the array-function formulation it is whole-stage
  * codegen'd compiled JVM code, not interpreted HOF lambdas. */
case class EntropyProfile(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == org.apache.spark.sql.types.StringType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string, got ${child.dataType.simpleString}")

  override def dataType: DataType = EntropyProfile.outputType
  override def prettyName: String = "entropy_profile"
  override def nullable: Boolean = true

  override def eval(input: InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else EntropyProfile.compute(v.asInstanceOf[UTF8String])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    val javaType = CodeGenerator.javaType(dataType)
    ev.copy(code = code"""
      ${c.code}
      $javaType ${ev.value} = null;
      if (!${c.isNull}) {
        ${ev.value} = graft.functions.EntropyProfile.compute(${c.value});
      }
      boolean ${ev.isNull} = ${ev.value} == null;""")
  }

  override protected def withNewChildInternal(newChild: Expression): EntropyProfile =
    copy(child = newChild)
}

object EntropyProfile {

  val outputType: StructType = StructType(Seq(
    StructField("n_chars_nospace", LongType, nullable = false),
    StructField("h_chars", DoubleType, nullable = false),
    StructField("n_tokens", LongType, nullable = false),
    StructField("h_words", DoubleType, nullable = false)))

  /** Spark's Round(double, 6) (HALF_UP on the shortest decimal
    * representation), returned in exact 1e-6 units. |p·ln p| ≤ 1/e, so
    * the long never overflows. */
  private def termMicros(p: Double): Long =
    java.math.BigDecimal.valueOf(p * Math.log(p))
      .setScale(6, java.math.RoundingMode.HALF_UP)
      .movePointRight(6).longValueExact()

  /** `floor(-cast(decimal_sum as double) * 1e6) / 1e6` — the reference
    * plan's exact IEEE step sequence (sumMicros×10⁻⁶ is the decimal). */
  private def finish(sumMicros: Long): Double = {
    val asDouble = java.math.BigDecimal.valueOf(sumMicros, 6).doubleValue()
    Math.floor(-asDouble * 1e6) / 1e6
  }

  private def entropyOf(counts: java.util.HashMap[_, Integer], n: Long): Double = {
    var sum = 0L
    val it = counts.values().iterator()
    while (it.hasNext) {
      val c = it.next().intValue()
      sum += termMicros(c.toDouble / n.toDouble)
    }
    finish(sum)
  }

  /** Shared by interpreted eval and generated code. Null when either
    * symbol set is empty. */
  def compute(text: UTF8String): InternalRow = {
    val s = text.toString
    // chars: code points except ' ' (split(text, "") semantics)
    val charCounts = new java.util.HashMap[Integer, Integer]()
    var nChars = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (cp != ' ') {
        val prev = charCounts.get(cp)
        charCounts.put(cp, if (prev == null) 1 else prev.intValue() + 1)
        nChars += 1
      }
      i += Character.charCount(cp)
    }
    if (nChars == 0L) return null
    // words: single-space split, empty tokens dropped
    val wordCounts = new java.util.HashMap[String, Integer]()
    var nWords = 0L
    var start = 0
    i = 0
    while (i <= s.length) {
      if (i == s.length || s.charAt(i) == ' ') {
        if (i > start) {
          val w = s.substring(start, i)
          val prev = wordCounts.get(w)
          wordCounts.put(w, if (prev == null) 1 else prev.intValue() + 1)
          nWords += 1
        }
        start = i + 1
      }
      i += 1
    }
    if (nWords == 0L) return null
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nChars, entropyOf(charCounts, nChars),
        nWords, entropyOf(wordCounts, nWords)))
  }
}
