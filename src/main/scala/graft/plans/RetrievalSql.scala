package graft.plans

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.functions._

import graft.text.TextAnalysis

/** SQL table-valued functions for the RETRIEVAL tier (r18, VERDICT r17
  * task 7): the at-rest inverted-index layouts (⊕A53) were Scala-API-only
  * — `graft_search` / `graft_bm25` make the search side operable from
  * pure SQL like the MergeTable verbs.
  *
  *  - `SELECT * FROM graft_search('/path/to/idx', 'a b c')` — conjunctive
  *    (AND) search: documents containing EVERY query term, scored by
  *    total tf ([[TextAnalysis.searchIndexLayout]]; the scan reads ONLY
  *    the query terms' `tb=` bucket dirs — driver-pruned, snapshot-
  *    isolated). Columns: (doc_id, score).
  *  - `SELECT * FROM graft_bm25('/path/to/idx', 'a b c', k)` — BM25-
  *    ranked top-k over the same pruned read, N/avg-length from the
  *    layout's own doc store ([[TextAnalysis.bm25SearchLayout]]); ties
  *    break by doc_id so the k-boundary is deterministic cross-engine.
  *    Columns: (doc_id, bm25).
  *
  * The first argument is the index layout DIRECTORY (index layouts are
  * not registered tables — they are named by location, like every other
  * LayoutTxn layout). The bucket count resolves from the layout's
  * own commit-recorded count, INSIDE the search in the same snapshot as
  * the partition set, so SQL callers never pass it and a concurrent
  * rescale can never pair a stale count with new directories; a dir
  * holding no committed index fails loudly. Query terms are whitespace-split from the second
  * argument — the same tokenizer the index writer used. */
object RetrievalSql {

  private def litString(e: Expression, what: String): String = e match {
    case Literal(s: org.apache.spark.unsafe.types.UTF8String, _) => s.toString
    case other => throw new IllegalArgumentException(
      s"$what must be a string literal, got ${other.sql}")
  }

  private def litInt(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got ${other.sql}")
  }

  private def termsOf(s: String, what: String): Seq[String] = {
    val ts = s.split("\\s+").toSeq.filter(_.nonEmpty)
    require(ts.nonEmpty, s"$what needs at least one query term")
    ts
  }

  /** `graft_search(index_dir, query)` → (doc_id, score). */
  def searchPlan(args: Seq[Expression]): LogicalPlan = {
    val dir = litString(args(0), "graft_search: index_dir")
    val terms = termsOf(litString(args(1), "graft_search: query"),
      "graft_search")
    TextAnalysis.searchIndexLayout(SparkSession.active, dir, terms)
      .queryExecution.logical
  }

  /** `graft_bm25(index_dir, query, k)` → top-k (doc_id, bm25). */
  def bm25Plan(args: Seq[Expression]): LogicalPlan = {
    val dir = litString(args(0), "graft_bm25: index_dir")
    val terms = termsOf(litString(args(1), "graft_bm25: query"), "graft_bm25")
    val k = litInt(args(2), "graft_bm25: k")
    require(k >= 1, s"graft_bm25: k must be >= 1, got $k")
    // orderBy+limit plans as TakeOrderedAndProject — a bounded heap per
    // partition and a k-row driver merge, never a global sort
    TextAnalysis.bm25SearchLayout(SparkSession.active, dir, terms)
      .orderBy(col("bm25").desc, col("doc_id"))
      .limit(k)
      .queryExecution.logical
  }
}
