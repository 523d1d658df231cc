package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistryBase
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.IntegerType

import graft.functions._
import graft.plans.{MergeTableSql, RetrievalSql}

/** SparkSessionExtensions entry point: enable with
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` (every
  * [[graft.util.SessionTuning.session]] does). Injects the engine's rules,
  * parser and the [[GraftExtensions.functions]] /
  * [[GraftExtensions.tableFunctions]] catalog into every session built from
  * that config; a session built without it gets the same catalog from
  * [[GraftExtensions.ensureRegistered]]. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    // the custom as-of join strategy (graft.plans) for config-based
    // sessions; imperative sessions get it via AsofJoin.ensureStrategy
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // upstream Spark 4.1.2 wrong-results codegen guard (BASELINE.md):
    // element_at(array, runtime-null index) returns the LAST element under
    // whole-stage codegen; the rule rewrites the exposed shape to its
    // null-correct form. Injected at RESOLUTION time so the corrected
    // nullability (upstream's ElementAt.nullable ignores the index's —
    // the root of the codegen divergence) is part of the analyzed schema;
    // the optimizer injection is the backstop for plans assembled from
    // fragments the analyzer pass missed, and the no-config imperative
    // door is ElementAtNullIndexGuard.ensureInjected.
    ext.injectResolutionRule(_ => graft.plans.ElementAtNullIndexGuard)
    ext.injectOptimizerRule(_ => graft.plans.ElementAtNullIndexGuard)
    // MERGE INTO / VERSION+TIMESTAMP AS OF / INSERT / DML / reads of
    // MergeTableSql-registered MergeTable names through the SQL front
    // door (⊕K7 via verbatim SQL)
    ext.injectResolutionRule(_ => graft.plans.MergeTableSqlResolution)
    // lifecycle verbs Spark's grammar lacks (OPTIMIZE / VACUUM /
    // DESCRIBE HISTORY) + parse-time CREATE TABLE ... USING graft
    ext.injectParser((_, delegate) => new graft.plans.GraftSqlParser(delegate))
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.description))
    GraftExtensions.tableFunctions.foreach(f => ext.injectTableFunction(f.description))
  }
}

object GraftExtensions {

  /** One catalog entry. `usage` is the SQL signature every argument error
    * quotes (its prefix up to `(` is the name), `arities` the argument
    * counts it accepts, `cls` what DESCRIBE FUNCTION names, and `build`
    * runs once the count is right. */
  final case class Native[T](usage: String, arities: Seq[Int], cls: Class[_],
                             build: Seq[Expression] => T) {
    val name: String = usage.takeWhile(_ != '(')

    /** The message a call with `got` arguments fails with. */
    def arityError(got: Int): String =
      s"$usage expects ${arities.mkString(" or ")} argument" +
        s"${if (arities == Seq(1)) "" else "s"} but got $got"

    val description: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => T) =
      (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
        (args: Seq[Expression]) => {
          if (!arities.contains(args.size))
            throw new IllegalArgumentException(arityError(args.size))
          build(args)
        })
  }

  /** An argument the expression compiles in as a constant: an INT literal. */
  private def intLiteral(usage: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$usage: $arg must be an integer literal, got $other")
  }

  /** Argument `i` as a foldable number, or `default` when the call omits it. */
  private def intArg(args: Seq[Expression], i: Int, default: Int): Int =
    if (args.size > i) args(i).eval(null).asInstanceOf[Number].intValue() else default

  /** Every native scalar and aggregate function. */
  val functions: Seq[Native[Expression]] = Seq(
    Native("vec_cosine(a, b)", Seq(2), classOf[CosineSimilarity],
      a => CosineSimilarity(a(0), a(1))),
    Native("vec_dot(a, b)", Seq(2), classOf[VecDot], a => VecDot(a(0), a(1))),
    Native("kmv_distinct(col[, k])", Seq(1, 2), classOf[KmvDistinct],
      a => KmvDistinct(a(0), intArg(a, 1, 256)).toAggregateExpression()),
    Native("kmv_mins(col[, k])", Seq(1, 2), classOf[KmvMins],
      a => KmvMins(a(0), intArg(a, 1, 256)).toAggregateExpression()),
    Native("cms_sketch(col[, depth, width])", Seq(1, 2, 3), classOf[CountMinSketch],
      a => {
        val (d, w) = (intArg(a, 1, 4), intArg(a, 2, 256))
        // fail at analysis with a clear message, not at execution with a
        // modulo-by-zero
        require(d >= 1 && w >= 1, s"cms_sketch needs depth/width >= 1, got $d/$w")
        CountMinSketch(a(0), d, w).toAggregateExpression()
      }),
    Native("heavy_hitters(col[, capacity])", Seq(1, 2), classOf[MisraGries],
      a => {
        val c = intArg(a, 1, 256)
        require(c >= 1, s"heavy_hitters capacity must be >= 1, got $c")
        MisraGries(a(0), c).toAggregateExpression()
      }),
    Native("top_k_by(payload, ord, k)", Seq(3), classOf[TopKBy],
      a => {
        val k = intArg(a, 2, 0)
        require(k >= 1, s"top_k_by k must be >= 1, got $k")
        TopKBy(a(0), a(1), k).toAggregateExpression()
      }),
    Native("binary_stride(payload, factor)", Seq(2), classOf[BinaryStride],
      a => BinaryStride(a(0), a(1))),
    Native("repetition_ratio(text, k)", Seq(2), classOf[RepetitionRatio],
      a => RepetitionRatio(a(0), intLiteral("repetition_ratio(text, k)", "k", a(1)))),
    Native("simhash16(text)", Seq(1), classOf[SimHash16], a => SimHash16(a(0))),
    Native("winnow_fps(text, k, w)", Seq(3), classOf[WinnowFingerprints],
      a => WinnowFingerprints(a(0), intLiteral("winnow_fps", "k", a(1)),
        intLiteral("winnow_fps", "w", a(2)))),
    Native("term_counts(text)", Seq(1), classOf[TermCounts], a => TermCounts(a(0))),
    Native("chargram_jaccard(a, b, n)", Seq(3), classOf[CharGramJaccard],
      a => CharGramJaccard(a(0), a(1), intLiteral("chargram_jaccard", "n", a(2)))),
    Native("canary_hits(text, patterns)", Seq(2), classOf[CanaryHits], CanaryHits.build),
    Native("bpe_encode(word, merges)", Seq(2), classOf[BpeEncode], BpeEncode.build),
    Native("entropy_profile(text)", Seq(1), classOf[EntropyProfile],
      a => EntropyProfile(a(0))),
    Native("word_grams(text, n)", Seq(2), classOf[WordGrams],
      a => WordGrams(a(0), intLiteral("word_grams(text, n)", "n", a(1)))),
    Native("gram_dominance(text, n)", Seq(2), classOf[GramDominance],
      a => GramDominance(a(0), intLiteral("gram_dominance(text, n)", "n", a(1)))))

  /** SQL table-valued functions: CDC and commit history over registered
    * MergeTables as composable relations (the read-side counterparts of
    * the DESCRIBE HISTORY / VERSION AS OF verbs), and the at-rest inverted
    * index's conjunctive and BM25 top-k search. */
  val tableFunctions: Seq[Native[LogicalPlan]] = Seq(
    Native("graft_changes(table_name, from_version_or_ts, to_version_or_ts)",
      Seq(3), MergeTableSql.getClass, MergeTableSql.changesPlan),
    Native("graft_history(table_name[, from_ts, to_ts])", Seq(1, 3),
      MergeTableSql.getClass, MergeTableSql.historyPlan),
    Native("graft_rows(table_name)", Seq(1), MergeTableSql.getClass, MergeTableSql.rowsPlan),
    Native("graft_stats(table_name)", Seq(1), MergeTableSql.getClass, MergeTableSql.statsPlan),
    Native("graft_search(index_dir, query)", Seq(2), RetrievalSql.getClass,
      RetrievalSql.searchPlan),
    Native("graft_bm25(index_dir, query, k)", Seq(3), RetrievalSql.getClass,
      RetrievalSql.bm25Plan))

  /** Idempotently register the catalog in a session built without the
    * extension config; the operators that call native functions by name
    * do so defensively. */
  def ensureRegistered(spark: SparkSession): Unit = {
    def register[T](registry: FunctionRegistryBase[T], natives: Seq[Native[T]]): Unit =
      natives.foreach { n =>
        val (id, info, build) = n.description
        if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
      }
    register(spark.sessionState.functionRegistry, functions)
    register(spark.sessionState.tableFunctionRegistry, tableFunctions)
  }
}
