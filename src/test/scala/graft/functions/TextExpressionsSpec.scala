package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.dedup.Dedup
import graft.model.Tables
import graft.text.TextAnalysis

/** Parity: the native text kernels must be value-identical to the portable
  * built-ins-only HOF reference implementations on the real documents table
  * (the same invariant the DuckDB oracle checks end-to-end on q46/q28). */
class TextExpressionsSpec extends SparkSpec {

  private def docs = Tables(spark, sfDir, "documents")

  test("RepetitionRatio kernel matches the staged-HOF reference on documents") {
    val native = docs.select(col("doc_id"),
      TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
    val hof = TextAnalysis.repetitionRatioHof(docs, col("text"), 3, "r")
      .select(col("doc_id"), col("r"))
    assert(native.except(hof).isEmpty && hof.except(native).isEmpty)
  }

  test("RepetitionRatio edge cases: null, empty, short, repetitive") {
    import spark.implicits._
    val d = Seq(
      (1L, null.asInstanceOf[String]),
      (2L, ""),
      (3L, "one two"),                    // fewer than k words
      (4L, "a b a b a b a b"),            // highly repetitive
      (5L, "  spaced   out   words  ")    // empty tokens dropped
    ).toDF("id", "text")
    val got = d.select(col("id"), TextAnalysis.repetitionRatio(col("text"), 3).as("r"))
      .as[(Long, Double)].collect().toMap
    assert(got(1L) === 1.0)
    assert(got(2L) === 1.0)
    assert(got(3L) === 1.0)
    // grams of 8 words, k=3: 6 total, distinct {aba, bab} = 2 → 0.333333
    assert(got(4L) === 0.333333)
    assert(got(5L) === 1.0) // "spaced out words" → 1 gram
  }

  test("SimHash16 kernel matches the staged-HOF reference on documents") {
    val native = docs.select(col("doc_id"), Dedup.simhash16(col("text")).as("sh"))
    val hof = Dedup.simhash16Hof(docs, col("text"), "sh")
      .select(col("doc_id"), col("sh"))
    assert(native.except(hof).isEmpty && hof.except(native).isEmpty)
  }

  test("SimHash16 edge cases: null and empty give the all-zero signature") {
    import spark.implicits._
    val d = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "))
      .toDF("id", "text")
    val got = d.select(col("id"), Dedup.simhash16(col("text")).as("sh"))
      .as[(Long, String)].collect().toMap
    assert(got.values.toSet === Set("0" * 16))
  }

  test("TermCounts equals the explode+groupBy tf computation, incl. edge cases") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b a  b a"), (2L, " x "), (3L, ""),
      (4L, null.asInstanceOf[String]), (5L, "q q q")).toDF("doc_id", "text")
    val native = docs.select(col("doc_id"),
        explode(TextFunctions.termCounts(col("text"))).as(Seq("term", "tf")))
      .select(col("doc_id"), col("term"), col("tf").cast("long").as("tf"))
    val classic = docs.select(col("doc_id"),
        explode(graft.text.TextAnalysis.words(col("text"))).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    assert(native.except(classic).isEmpty && classic.except(native).isEmpty)
    // null/empty text -> empty map -> no rows (same as the classic form)
    assert(native.filter(col("doc_id").isin(3L, 4L)).count() === 0L)
  }

  test("remove_spans: interval sweep matches the declarative anti-join form on every edge") {
    import spark.implicits._
    // (words, starts, k): overlapping spans, unsorted + duplicate starts,
    // all-covered, empty starts, span past end, start at 0
    val rows = Seq(
      (Seq("a", "b", "c", "d", "e", "f"), Seq(1, 3), 2),   // overlap-adjacent
      (Seq("a", "b", "c", "d", "e", "f"), Seq(3, 1, 1), 2), // unsorted + dup
      (Seq("a", "b", "c"), Seq(0), 5),                      // covers all (past end)
      (Seq("a", "b", "c"), Seq.empty[Int], 3),              // no spans
      (Seq("x"), Seq(0), 1),                                // single word covered
      (Seq("x", "y"), Seq(1), 1))                           // tail covered
      .zipWithIndex.map { case ((w, s, k), i) => (i.toLong, w, s, k) }
      .toDF("id", "ws", "starts", "k")
    for (k <- Seq(1, 2, 3, 5)) {
      val sub = rows.filter(col("k") === k)
      val kernel = sub.select(col("id"),
        TextFunctions.removeSpans(col("ws"), col("starts"), k).as("got"))
      // reference: the original explode→distinct→anti-join reassembly
      val covered = sub.select(col("id"),
          explode(col("starts")).as("s"))
        .select(col("id"), explode(sequence(col("s"), col("s") + lit(k - 1))).as("p"))
        .distinct()
      val exp = sub.select(col("id"), posexplode(col("ws")).as(Seq("p", "w")))
        .join(covered, Seq("id", "p"), "left_anti")
        .groupBy("id")
        .agg(array_join(transform(array_sort(collect_list(struct(col("p"), col("w")))),
          s => s.getField("w")), " ").as("exp"))
      val both = kernel.join(exp, Seq("id"), "left")
        .select(col("got"), coalesce(col("exp"), lit("")).as("exp")).collect()
      both.foreach(r => assert(r.getString(0) === r.getString(1), s"k=$k"))
    }
  }

  test("remove_spans: JVM kernel equals the set-based reference on random inputs") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val rnd = new scala.util.Random(42)
    for (_ <- 0 until 500) {
      val n = rnd.nextInt(40)
      val words = (0 until n).map(i => s"w${rnd.nextInt(8)}")
      val k = 1 + rnd.nextInt(6)
      val m = rnd.nextInt(10)
      // starts may repeat, arrive unsorted, and land anywhere in range
      val starts = (0 until m).map(_ => rnd.nextInt(math.max(n, 1)))
      val covered = starts.flatMap(s => s until (s + k)).toSet
      val expected = words.zipWithIndex
        .collect { case (w, i) if !covered(i) => w }.mkString(" ")
      val got = RemoveSpans.compute(
        new GenericArrayData(words.map(UTF8String.fromString).toArray[Any]),
        new GenericArrayData(starts.toArray[Any]), k).toString
      assert(got === expected, s"n=$n k=$k starts=$starts")
    }
  }

  test("SQL registration works and validates arity") {
    val r = spark.sql("SELECT repetition_ratio('a b a b a b a b', 3) AS r, simhash16('x y') AS s")
      .collect()(0)
    assert(r.getDouble(0) === 0.333333)
    assert(r.getString(1).length === 16)
    val e = intercept[Exception](spark.sql("SELECT simhash16('a', 'b')").collect())
    assert(e.getMessage.contains("expects 1 argument"))
  }
}
