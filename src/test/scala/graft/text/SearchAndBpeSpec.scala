package graft.text

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Inverted index + conjunctive search, BPE pair counting, containment
  * verify, and the single-pass profiler — semantics on small in-memory
  * corpora where the expected values are hand-checkable. */
class SearchAndBpeSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "spark streams window data"),
    (2L, "window window spark"),
    (3L, "batch only no match"),
    (4L, "spark spark spark window window")
  ).toDF("doc_id", "text")

  test("invertedIndex: df and sorted postings with tf") {
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", col("text"))
      .as[(String, Long, Seq[(Long, Long)])].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(idx("spark") === ((3L, Seq((1L, 1L), (2L, 1L), (4L, 3L)))))
    assert(idx("window") === ((3L, Seq((1L, 1L), (2L, 2L), (4L, 2L)))))
    assert(idx("batch") === ((1L, Seq((3L, 1L)))))
  }

  test("searchAll: AND semantics, tf-sum score, non-matching docs absent") {
    val idx = TextAnalysis.invertedIndex(docs, "doc_id", col("text"))
    val got = TextAnalysis.searchAll(idx, Seq("spark", "window"))
      .as[(Long, Long)].collect().toMap
    // doc 3 lacks both; docs 1/2/4 contain both; score = tf(spark)+tf(window)
    assert(got === Map(1L -> 2L, 2L -> 3L, 4L -> 5L))
  }

  test("bpePairCounts: pair scores weighted by word frequency; 1-char words skipped") {
    val d = Seq((1L, "ab ab abc x"), (2L, "ab")).toDF("doc_id", "text")
    val got = TextAnalysis.bpePairCounts(d, col("text"))
      .as[(String, Long)].collect().toMap
    // freq: ab=3, abc=1, x=1(skipped). pairs: ab from 'ab'(3) + 'abc'(1),
    // bc from 'abc'(1)
    assert(got === Map("ab" -> 4L, "bc" -> 1L))
  }

  test("bpeApply: hand-checked merges, greedy non-overlap, chained rules compose") {
    val d = Seq((1L, "the thin hand and then"), (2L, "aaaa and the")).toDF("doc_id", "text")
    // merges: t+h -> th, th+e -> the, a+n -> an, an+d -> and
    val out = TextAnalysis.bpeApply(d, col("text"),
        Seq("t" -> "h", "th" -> "e", "a" -> "n", "an" -> "d"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // "the"×2 -> [the]; "then" -> [the,n] (t+h then th+e chain within the
    // ordered passes); "thin" -> [th,i,n]; "hand" -> [h,an,d] -> [h,and]
    // (a+n fires, then the later an+d pass consumes the result);
    // "aaaa" -> [a,a,a,a] (no rule matches aa); "and"×2 -> [and]
    assert(out("the") === 3L)   // the, the, then's prefix
    assert(out("and") === 3L)   // "and"×2 + the one inside "hand"
    assert(out("th") === 1L)    // thin only — then's th chained into the
    assert(out("a") === 4L)     // aaaa
    assert(out.get("t").isEmpty, out) // every bare 't' merged away
  }

  test("bpeApply native kernel is hash-identical to chained per-rule passes on the 120-rule reference table") {
    val d = graft.model.Tables.documents(spark, sfDir).limit(150)
    val merges = TextAnalysis.referenceMerges
    assert(merges.size >= 100, s"reference table too small: ${merges.size}")
    val fast = TextAnalysis.bpeApply(d, col("text"), merges)
      .orderBy(desc("total"), col("symbol"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val slow = TextAnalysis.bpeApplyChained(d, col("text"), merges)
      .orderBy(desc("total"), col("symbol"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(fast === slow)
  }

  test("bpe_encode kernel keeps ORDERED-table pass semantics, not rank-priority revisit") {
    // rule 2's merge creates exactly the pair rule 1 names; a sequential
    // (ordered-pass) encoder must NOT go back and apply rule 1, while an
    // HF-style rank-priority encoder would produce [abc]. The oracle's
    // replace chain is sequential, so sequential is the contract.
    val d = Seq((1L, "abc")).toDF("doc_id", "text")
    val out = TextAnalysis.bpeApply(d, col("text"), Seq("a" -> "bc", "b" -> "c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out === Map("a" -> 1L, "bc" -> 1L))
  }

  test("bpe_encode SQL registration: foldable merge array, null/shape rejection") {
    val got = spark.sql(
      "SELECT bpe_encode('then', array('t h', 'th e', 'a n')) AS syms")
      .head().getSeq[String](0)
    assert(got === Seq("the", "n"))
    val err = intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', cast(null as array<string>))").collect()
    }
    assert(err.getMessage.contains("bpe_encode"))
    val err2 = intercept[Exception] {
      spark.sql("SELECT bpe_encode('x', array('nospace'))").collect()
    }
    assert(err2.getMessage.contains("bpe_encode"))
  }

  test("bpeApply round-trips bpeLearn: applying the learned table yields merged symbols with the learned scores") {
    val d = graft.model.Tables.documents(spark, sfDir).limit(200)
    val learned = TextAnalysis.bpeLearn(d, col("text"), rounds = 3)
      .orderBy(col("step"))
      .collect().map(r => (r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    assert(learned.length === 3)
    val applied = TextAnalysis.bpeApply(d, col("text"),
        learned.map(m => (m._1, m._2)).toSeq)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // the FIRST learned merge's score counts pairs over the original char
    // sequences; after applying all rules, the merged symbol must appear
    // at least... exactly? Later rules can consume earlier merged symbols
    // (e.g. rule 2 = (m1, x)), so assert the first merged symbol appears
    // with at least its learned score minus consumption by later rules,
    // and that every learned merged symbol the later rules didn't consume
    // is present
    val consumed = learned.map(m => Set(m._1, m._2)).reduce(_ ++ _)
    for ((_, _, merged, score) <- learned if !consumed.contains(merged)) {
      assert(applied.contains(merged), s"$merged missing from applied symbols")
      assert(applied(merged) >= score, s"$merged: ${applied(merged)} < $score")
    }
  }

  test("containmentVerify: excerpt fully contained reads c_ab = 1.0, jaccard-style dilution avoided") {
    import graft.dedup.Dedup
    val corpus = Seq(
      (1L, "a b c d e f g h"),
      (2L, "a b")).toDF("doc_id", "text")
    val pairs = Seq((2L, 1L)).toDF("a", "b")
    val r = Dedup.containmentVerify(pairs, corpus, "doc_id", col("text"))
      .as[(Long, Long, Long, Double, Double)].head()
    assert(r === ((2L, 1L, 2L, 1.0, 0.25)))
  }

  test("bm25: hand-computed scores; non-matching docs absent; rarity outranks frequency") {
    val corpus = Seq(
      (1L, "spark spark spark rows"), // tf(spark)=3, len 4
      (2L, "spark rows"),             // tf(spark)=1, len 2
      (3L, "disk only here"),         // no query term
      (4L, "rare word appears once spark")) // tf(rare)=1, tf(spark)=1
      .toDF("doc_id", "text")
    val got = graft.text.TextAnalysis.bm25(corpus, "doc_id", col("text"),
        Seq("spark", "rare"))
      .as[(Long, Double)].collect().toMap
    // doc 3 contains no query term: absent, not zero
    assert(got.keySet === Set(1L, 2L, 4L))
    // hand computation: N=4, avgLen=3.5; df(spark)=3, df(rare)=1
    def idf(df: Double) = math.log(1.0 + (4.0 - df + 0.5) / (df + 0.5))
    def part(tf: Double, len: Double, df: Double) =
      idf(df) * tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * len / 3.5))
    assert(math.abs(got(1L) - part(3, 4, 3)) < 1e-12)
    assert(math.abs(got(2L) - part(1, 2, 3)) < 1e-12)
    assert(math.abs(got(4L) - (part(1, 5, 3) + part(1, 5, 1))) < 1e-12)
    // the rare term dominates: doc 4 outranks the spark-only docs
    assert(got(4L) > got(1L) && got(4L) > got(2L))
  }

  test("profile: one row per column with exact nulls/ndv/minmax") {
    import graft.ops.Relational
    val d = Seq[(java.lang.Long, String)]((1L, "x"), (2L, "x"), (null, "y"), (4L, null))
      .toDF("k", "s")
    val got = Relational.profile(d, numeric = Seq("k"), categorical = Seq("s"))
      .orderBy("col_name")
      .as[(String, Long, Long, Long, Option[Double], Option[Double])].collect()
    assert(got === Array(
      ("k", 4L, 1L, 3L, Some(1.0), Some(4.0)),
      ("s", 4L, 1L, 2L, None, None)))
  }
}
