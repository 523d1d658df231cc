package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

/** Both paths into the [[GraftExtensions]] catalog: a session built with
  * the extension (`spark.sql.extensions`) and one that only called
  * [[GraftExtensions.ensureRegistered]] must each resolve every catalog
  * name in SQL. Reuses the suite-wide SparkContext — only the sessions
  * (and their function registries) are new. */
class GraftExtensionsSpec extends AnyFunSuite {

  private val catalog =
    GraftExtensions.functions.map(_ -> false) ++ GraftExtensions.tableFunctions.map(_ -> true)

  /** Calls `n` with one argument too many: the call only reaches the
    * catalog's arity check when the name resolves, so the catalog's
    * message proves both. */
  private def resolvesWithCatalogArity(s: SparkSession, n: GraftExtensions.Native[_],
                                       table: Boolean): Unit = {
    val got = n.arities.max + 1
    val args = Seq.fill(got)("1").mkString(", ")
    val sql = if (table) s"SELECT * FROM ${n.name}($args)" else s"SELECT ${n.name}($args)"
    val e = intercept[Exception](s.sql(sql).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .flatMap(t => Option(t.getMessage))
    assert(msgs.exists(_.contains(n.arityError(got))), s"$sql: ${e.getMessage}")
  }

  test("a GraftExtensions session resolves all native functions in SQL") {
    SparkSpec.session // ensure the shared context exists first
    val prev = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    // getOrCreate returns the active/default session as-is (extensions are
    // applied only at session construction) — clear both so a NEW session
    // is built on the existing context with the extensions config
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    try {
      // .config("spark.sql.extensions", "graft.GraftExtensions") is the
      // production route, but it is a STATIC conf — only honored when the
      // SparkContext itself is new. Reusing the suite's context, the
      // equivalent injection point is builder.withExtensions.
      val s2 = SparkSession.builder()
        .master("local[4]")
        .withExtensions(new GraftExtensions)
        .getOrCreate()
      val r = s2.sql(
        """SELECT
          |  repetition_ratio('a b a b a b a b', 3) AS rr,
          |  simhash16('x y') AS sh,
          |  octet_length(binary_stride(encode('abcdef', 'UTF-8'), 2)) AS bs,
          |  vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS vd,
          |  vec_cosine(CAST(array(1.0, 0.0) AS ARRAY<FLOAT>),
          |             CAST(array(1.0, 0.0) AS ARRAY<FLOAT>)) AS vc
          |""".stripMargin).collect()(0)
      assert(r.getDouble(0) === 0.333333)
      assert(r.getString(1).length === 16)
      assert(r.getInt(2) === 3)
      assert(r.getDouble(3) === 11.0)
      assert(math.abs(r.getDouble(4) - 1.0) < 1e-12)
      val agg = s2.sql(
        "SELECT kmv_distinct(x, 64) FROM VALUES (1), (2), (3), (2) AS t(x)")
        .collect()(0).getLong(0)
      assert(agg === 3L)
      val e = intercept[Exception](s2.sql("SELECT simhash16('a', 'b')").collect())
      assert(e.getMessage.contains("expects 1 argument"))
      catalog.foreach { case (n, table) => resolvesWithCatalogArity(s2, n, table) }
    } finally {
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prev.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("ensureRegistered restores every catalog name in a session without the extension") {
    val s = SparkSpec.session.newSession()
    val functions = s.sessionState.functionRegistry
    val tables = s.sessionState.tableFunctionRegistry
    catalog.foreach { case (n, table) =>
      val id = FunctionIdentifier(n.name)
      assert(if (table) tables.dropFunction(id) else functions.dropFunction(id), n.name)
    }
    val gone = intercept[Exception](s.sql("SELECT simhash16('x y')").collect())
    assert(!gone.getMessage.contains("expects"), gone.getMessage)
    GraftExtensions.ensureRegistered(s)
    GraftExtensions.ensureRegistered(s) // idempotent
    catalog.foreach { case (n, table) => resolvesWithCatalogArity(s, n, table) }
    val r = s.sql("SELECT simhash16('x y'), top_k_by(id, CAST(id AS DOUBLE), 2) " +
      "FROM range(5) GROUP BY 1").collect()(0)
    assert(r.getString(0).length === 16)
    assert(r.getSeq[org.apache.spark.sql.Row](1).map(_.getLong(0)) === Seq(4L, 3L))
  }
}
