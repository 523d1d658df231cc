package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.layout.MergeTable
import graft.sources.{HubEtl, Pretalx}
import graft.text.TextAnalysis

/** One operation the client sends: `span` names its top-level span,
  * `items` is the work it completes (talks reconciled, queries, events
  * replayed, index operations). */
final case class Op(kind: String, label: String, span: String, family: String,
                    items: Double, input: Any = null)

/** A workload: how its state is built, which operations make up a round,
  * how each is run, and how its result is checked. Checks run outside the
  * timed window; their time is reported as `bench.check_s`. */
abstract class Workload(val name: String, var spark: SparkSession,
                        val work: String, val plan: JsonNode) {
  val sf = s"$work/sf"
  val failures = mutable.ArrayBuffer.empty[String]
  val resultDirs = mutable.LinkedHashMap.empty[String, String]
  var checked = 0
  var checkS = 0.0

  def fail(msg: String): Unit = failures += msg
  def build(rep: Int): Unit
  def warmup(): Unit
  def hasNextRound: Boolean
  def nextRound(): Seq[Op]
  def beforeOp(op: Op, traced: Boolean): Unit = ()
  def run(op: Op, t: Trace): Any
  /** Untimed: is `result` right? Failures are recorded with a reason. */
  protected def verify(op: Op, result: Any): Boolean
  def layerMetrics(op: Op): Map[String, Double] = Map.empty
  def finalCheck(): Unit

  final def check(op: Op, result: Any): Boolean = {
    val t0 = System.nanoTime()
    try {
      checked += 1
      verify(op, result)
    } catch { case e: Exception =>
      fail(s"${op.label}: check failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
      false
    } finally {
      graft.util.Cleanup.drain()
      checkS += (System.nanoTime() - t0) / 1e9
    }
  }
}

object Workload {
  def apply(name: String, spark: SparkSession, work: String,
            plan: JsonNode): Workload = name match {
    case "hub_sync"      => new HubSync(spark, work, plan)
    case "index_churn"   => new IndexChurn(spark, work, plan)
    case "query_mix"     => new QueryMix(spark, work, plan)
  }

  def noop(df: DataFrame): Unit =
    SparkEntry.materializeOrdered(df).write.format("noop").mode("overwrite").save()

  def walk(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else {
      val s = Files.walk(Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }

  def parquetRows(p: Path): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
      new org.apache.hadoop.fs.Path(p.toString),
      new org.apache.hadoop.conf.Configuration())
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try r.getRecordCount finally r.close()
  }

  def isParquet(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")

  def sha256(rows: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.sorted.foreach { r =>
      md.update(r.getBytes("UTF-8")); md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** `query_mix`: SparkEntry registry entries through Bench's terminal —
  * batch queries, and streaming replays of the events backlog (family
  * `stream`). */
final class QueryMix(session: SparkSession, work: String, plan: JsonNode)
    extends Workload("query_mix", session, work, plan) {
  private val rounds = plan.get("rounds").elements().asScala
    .map(J.strings).toIndexedSeq
  private val families = plan.get("families")
  private var next = 0

  def build(rep: Int): Unit = ()
  /** One untimed round. Its first pass compiles every entry's plans and
    * writes each result through Verify's terminal for the oracle check
    * run.py makes (same code, same inputs as the timed runs); its second
    * lets the JIT settle on the warm paths. */
  def warmup(): Unit = {
    val round = nextRound()
    val (first, second) = round.splitAt(round.size / 2)
    first.foreach { op =>
      val dir = s"$work/check/${op.label}"
      try {
        SparkEntry.materializeOrdered(SparkEntry.queries(op.label)(spark, sf))
          .coalesce(1).write.mode("overwrite").parquet(dir)
        resultDirs(op.label) = dir
      } catch { case e: Exception =>
        fail(s"${op.label}: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
      graft.util.Cleanup.drain()
    }
    second.foreach(op => run(op, new Trace(spark, enabled = false)))
  }
  def hasNextRound: Boolean = next < rounds.size
  def nextRound(): Seq[Op] = {
    next += 1
    rounds(next - 1).map { q =>
      val family = families.get(q).asText
      val kind = if (family == "stream") "replay" else "query"
      Op(kind, q, s"op.$kind", family, 1.0)
    }
  }
  private var bodyAnalysisS = 0.0
  def run(op: Op, t: Trace): Any = {
    val df = t.span("entry.body")(SparkEntry.queries(op.label)(spark, sf))
    t.span("entry.exec")(Workload.noop(df))
    bodyAnalysisS = df.queryExecution.tracker.phases.get("analysis")
      .map(_.durationMs / 1e3).getOrElse(0.0)
  }
  /** Analysis of the returned DataFrame happens while the entry builds it,
    * outside any execution a QueryExecutionListener reports. */
  override def layerMetrics(op: Op): Map[String, Double] =
    Map("catalyst.body_analysis_s" -> bodyAnalysisS)
  protected def verify(op: Op, result: Any): Boolean = true
  def finalCheck(): Unit = ()
}

/** `hub_sync`: the paper's refresh cycle, schedule.json → hub MergeTable. */
final class HubSync(session: SparkSession, work: String, plan: JsonNode)
    extends Workload("hub_sync", session, work, plan) {
  private val hub = plan.get("hub")
  private val cycles = hub.get("cycles").elements().asScala.toIndexedSeq
  private val buckets = plan.get("hub_buckets").asInt
  private var dir = ""
  private var next = 0
  private var before: Set[Path] = Set.empty
  private var prevRows: Map[String, String] = Map.empty
  private var lastUseful = 0.0

  private val targetSchema = StructType(Seq(StructField("id", StringType),
    StructField("tags", ArrayType(StringType))))

  private def events(path: String, t: Trace): DataFrame =
    t.span("sources.extract") {
      val schedule = Pretalx.readSchedule(spark, s"$work/$path")
      Pretalx.talksToEvents(Pretalx.talks(schedule),
        Pretalx.speakerMapOf(schedule))
    }

  /** The op-flagged change batch: created talks get a fresh hub id, matched
    * and removed ones keep theirs. */
  private def changes(plan: DataFrame): DataFrame = plan.select(
    coalesce(col("hub_id"), concat(lit("h-"), lower(col("code")))).as("id"),
    col("name"), col("room_name"), col("abstract"), col("speakers"),
    col("description_en"), col("schedule_start"), col("duration"),
    col("code"), array(lower(col("code"))).as("tags"), col("op_flag"))

  private def sync(path: String, t: Trace): Unit = {
    val ev = events(path, t)
    val target = t.span("layout.read") {
      if (MergeTable.currentVersion(dir).isEmpty)
        spark.createDataFrame(java.util.List.of[Row](), targetSchema)
      else MergeTable.read(spark, dir)
    }
    val p = t.span("ops.merge_plan")(HubEtl.mergePlan(ev, target))
    t.span("layout.merge") {
      MergeTable.merge(spark, dir, changes(p), "id", numBuckets = buckets)
    }
  }

  private def tableRows(): Map[String, String] =
    MergeTable.read(spark, dir).select("id", "name", "room_name", "abstract",
      "description_en", "duration").collect().map { r =>
      r.getString(0) -> (0 until 6).map(i =>
        Option(r.getString(i)).getOrElse("\u0000")).mkString("\u001f")
    }.toMap

  private def checkState(label: String, rows: Long, digest: String): Boolean = {
    val got = tableRows()
    prevRows = got
    val ok = got.size == rows && Workload.sha256(got.values.toSeq) == digest
    if (!ok) fail(s"$label: hub table has ${got.size} rows (expected $rows) " +
      "or a different content digest")
    ok
  }

  def build(rep: Int): Unit = {
    dir = s"$work/hub/table_$rep"
    sync(hub.get("initial").asText, new Trace(spark, enabled = false))
    val t0 = System.nanoTime()
    checkState(s"initial load $rep", hub.get("initial_rows").asLong,
      hub.get("initial_digest").asText)
    checkS += (System.nanoTime() - t0) / 1e9
  }
  /** Two untimed cycles: the cold loads above never update or delete. */
  def warmup(): Unit = (0 until 2).foreach { _ =>
    val op = nextRound().head
    run(op, new Trace(spark, enabled = false))
    check(op, ())
  }
  def hasNextRound: Boolean = next < cycles.size
  def nextRound(): Seq[Op] = {
    val c = cycles(next)
    next += 1
    Seq(Op("sync", s"cycle $next", "op.sync", "sync",
      (c.get("created").asInt + c.get("updated").asInt +
        c.get("deleted").asInt).toDouble, c))
  }
  override def beforeOp(op: Op, traced: Boolean): Unit =
    if (traced) before = Workload.walk(dir).toSet
  def run(op: Op, t: Trace): Any =
    sync(op.input.asInstanceOf[JsonNode].get("path").asText, t)

  protected def verify(op: Op, result: Any): Boolean = {
    val c = op.input.asInstanceOf[JsonNode]
    // the plan, recomputed against the version this cycle read
    val v = MergeTable.currentVersion(dir).get
    val prior = MergeTable.versions(dir).filter(_ < v).max
    val counts = HubEtl.mergePlan(events(c.get("path").asText,
        new Trace(spark, enabled = false)), MergeTable.readAt(spark, dir, prior))
      .groupBy("op_flag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val planOk = Seq("created" -> "create", "updated" -> "update",
      "deleted" -> "delete").forall { case (g, f) =>
      counts.getOrElse(f, 0L) == c.get(g).asLong }
    if (!planOk) fail(s"${op.label}: plan counts $counts differ from the " +
      s"generator's $c")
    val old = prevRows
    val stateOk = checkState(op.label, c.get("rows").asLong,
      c.get("digest").asText)
    val updated = prevRows.keySet.intersect(old.keySet)
    lastUseful = if (updated.isEmpty) 0.0
      else updated.count(k => prevRows(k) != old(k)).toDouble / updated.size
    planOk && stateOk
  }

  override def layerMetrics(op: Op): Map[String, Double] = {
    val c = op.input.asInstanceOf[JsonNode]
    val after = Workload.walk(dir)
    val added = after.filterNot(before)
    val data = added.filter(Workload.isParquet)
    val rewritten = data.map(Workload.parquetRows).sum.toDouble
    val changed = (c.get("created").asInt + c.get("edited").asInt).toDouble
    Map(
      "etl.rows_created" -> c.get("created").asDouble,
      "etl.rows_updated" -> c.get("updated").asDouble,
      "etl.rows_deleted" -> c.get("deleted").asDouble,
      "etl.useful_update_share" -> lastUseful,
      "layout.buckets_rewritten" -> data.map(_.getParent).distinct.size.toDouble,
      "layout.files_written" -> data.size.toDouble,
      "layout.bytes_written" -> added.map(Files.size).sum.toDouble,
      "layout.rows_rewritten" -> rewritten,
      "layout.useful_rewrite_share" ->
        (if (rewritten == 0) 0.0 else changed / rewritten),
      "layout.table_bytes" -> after.map(Files.size).sum.toDouble)
  }

  def finalCheck(): Unit = ()
}

/** `index_churn`: BM25 searches interleaved with delete and upsert batches
  * on one text-index layout. */
final class IndexChurn(session: SparkSession, work: String, plan: JsonNode)
    extends Workload("index_churn", session, work, plan) {
  private val idx = plan.get("index")
  private val ops = idx.get("ops").elements().asScala.toIndexedSeq
  private val block = plan.get("block").asInt
  private val buckets = plan.get("index_buckets").asInt
  private def corpus = spark.read.parquet(s"$work/${idx.get("corpus").asText}")
  private def docs(rows: Seq[(Long, String)]): DataFrame =
    spark.createDataFrame(rows.map { case (i, t) => Row(i, t) }.asJava,
      StructType(Seq(StructField("doc_id", LongType),
        StructField("text", StringType))))
  private var dir = ""
  private var next = 0
  private val deleted = mutable.HashSet.empty[Long]
  private val upserted = mutable.LinkedHashMap.empty[Long, String]
  private var cold = true
  private var lastTouched = 0.0

  def build(rep: Int): Unit = {
    dir = s"$work/index/layout_$rep"
    TextAnalysis.writeIndexLayout(corpus, "doc_id", col("text"), dir, buckets)
  }
  /** Two untimed blocks, so the delete and upsert paths are compiled too
    * and the timed blocks start with the JIT past its first compilations
    * (a search in the first block takes ~1.3x what it takes in the second). */
  def warmup(): Unit = (1 to 2).foreach(_ => nextRound().foreach { op =>
    beforeOp(op, traced = false)
    check(op, run(op, new Trace(spark, enabled = false)))
  })

  def hasNextRound: Boolean = next + block <= ops.size
  def nextRound(): Seq[Op] = {
    val r = ops.slice(next, next + block).map { o =>
      o.get("kind").asText match {
        case "search" =>
          Op("search", "search " + J.strings(o.get("terms")).mkString(" "),
            "op.search", "search", 1.0, J.strings(o.get("terms")))
        case "delete" =>
          val ids = o.get("ids").elements().asScala.map(_.asLong).toSeq
          Op("delete", s"delete ${ids.size}", "op.delete", "delete", 1.0, ids)
        case "upsert" =>
          val docs = o.get("docs").elements().asScala
            .map(d => (d.get("doc_id").asLong, d.get("text").asText)).toSeq
          Op("upsert", s"upsert ${docs.size}", "op.upsert", "upsert", 1.0, docs)
      }
    }
    next += block
    r
  }

  private val inputs = mutable.HashMap.empty[Op, DataFrame]
  override def beforeOp(op: Op, traced: Boolean): Unit = op.kind match {
    case "delete" => inputs(op) = spark.createDataFrame(
      op.input.asInstanceOf[Seq[Long]].map(Row(_)).asJava,
      StructType(Seq(StructField("doc_id", LongType))))
    case "upsert" => inputs(op) = docs(op.input.asInstanceOf[Seq[(Long, String)]])
    case _ =>
  }

  def run(op: Op, t: Trace): Any = op.kind match {
    case "search" =>
      val df = t.span("text.search_plan")(TextAnalysis.bm25SearchLayout(
        spark, dir, op.input.asInstanceOf[Seq[String]]))
      t.span("text.search_exec")(df.collect())
    case "delete" =>
      TextAnalysis.indexDeleteLayout(spark, dir, inputs.remove(op).get, "doc_id")
    case "upsert" =>
      TextAnalysis.indexUpsertLayout(spark, dir, inputs.remove(op).get,
        "doc_id", col("text"))
  }

  protected def verify(op: Op, result: Any): Boolean = op.kind match {
    case "search" =>
      val hit = result.asInstanceOf[Array[Row]].map(_.getLong(0))
        .filter(deleted.contains)
      if (hit.nonEmpty) fail(s"${op.label}: deleted ids ${hit.take(5).mkString(",")} returned")
      hit.isEmpty
    case "delete" =>
      val ids = op.input.asInstanceOf[Seq[Long]]
      deleted ++= ids; ids.foreach(upserted.remove); true
    case "upsert" =>
      lastTouched = result.asInstanceOf[Seq[Long]].size.toDouble
      op.input.asInstanceOf[Seq[(Long, String)]].foreach { case (i, s) =>
        upserted(i) = s; deleted -= i }
      true
  }

  override def layerMetrics(op: Op): Map[String, Double] = {
    val files = Workload.walk(dir)
    val tomb = files.filter(p => Workload.isParquet(p) &&
      p.toString.contains("/_tomb/"))
    val wasCold = cold
    cold = op.kind != "search"
    Map(
      "text.search_cold" -> (if (op.kind == "search" && wasCold) 1.0 else 0.0),
      "text.upsert_buckets_touched" -> (if (op.kind == "upsert") lastTouched else 0.0),
      "text.tombstone_runs" -> tomb.size.toDouble,
      "text.tombstone_ids" -> tomb.map(Workload.parquetRows).sum.toDouble,
      "text.layout_version" ->
        graft.layout.LayoutTxn.snapshot(dir).version.toDouble,
      "text.layout_files" -> files.count(Workload.isParquet).toDouble,
      "text.layout_bytes" -> files.map(Files.size).sum.toDouble)
  }

  /** Probe searches must equal BM25 recomputed over the surviving corpus
    * (scores truncated to 1e-6, as q204's oracle does). */
  def finalCheck(): Unit = {
    val gone = (deleted ++ upserted.keys).toSeq
    val surviving = corpus.filter(!col("doc_id").isin(gone: _*))
      .unionByName(docs(upserted.toSeq))
    def trunc(c: org.apache.spark.sql.Column) = floor(c * 1e6) / 1e6
    idx.get("probes").elements().asScala.map(J.strings).foreach { terms =>
      checked += 1
      val got = TextAnalysis.bm25SearchLayout(spark, dir, terms)
        .select(col("doc_id"), trunc(col("bm25")).as("s"))
      val want = TextAnalysis.bm25(surviving, "doc_id", col("text"), terms)
        .select(col("doc_id"), trunc(col("bm25")).as("s"))
      val diff = got.exceptAll(want).count() + want.exceptAll(got).count()
      if (diff != 0) fail(s"probe ${terms.mkString(" ")}: $diff rows differ " +
        "from bm25 over the surviving corpus")
    }
  }
}
