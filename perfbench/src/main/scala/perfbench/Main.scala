package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession

/** One benchmark process: builds the Spark session with Bench's confs, sets
  * the workload up, runs its operations closed-loop from this single
  * thread, checks every result, and writes the raw readings as JSON for
  * `perfbench/run.py` to summarise.
  *
  *   perfbench.Main --work <dir> --cores <n> --seconds <s> --phases <p,...>
  *                  --reps <n> --out <file>
  *
  * `<dir>` holds `plan.json` and the inputs `perfbench/gen.py` wrote for
  * the seed; the process reads nothing else. `--phases` lists the measured
  * phases, each `untraced` or `traced`; they take whole rounds of
  * operations in turn while each stays within `--seconds` of operation time
  * (times the phase's share, see [[Main.phaseShare]]). `--single-seconds
  * <s>` then continues the workload for `<s>` seconds, traced, in a fresh
  * local[1] session: the single-threaded baseline. */
object Main {
  val mapper = new ObjectMapper()

  /** Share of `--seconds` each phase measures: an untraced phase run
    * beside a traced one only supplies the overhead ratio's base. */
  def phaseShare(phases: Seq[String], p: String): Double =
    if (phases.size > 1 && p == "untraced") 0.5 else 1.0

  def session(cores: Int, sf: String, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions",
        graft.util.SessionTuning.shufflePartitionsConf(sf))
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // keep every file the run writes inside its work dir
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    graft.plans.ElementAtNullIndexGuard.ensureInjected(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9
  private def timed(f: => Unit): Double = { val t0 = System.nanoTime(); f; secs(t0) }
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def loadavg(): String =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).trim

  /** Heap still live after a full collection: the memory the workload
    * keeps, free of when the last collections happened to run. */
  def liveHeapMb(): Double = {
    System.gc(); System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val work = a("work")
    val cores = a("cores").toInt
    val seconds = a("seconds").toDouble
    val phases = a("phases").split(",").toSeq
    val reps = a("reps").toInt
    val plan = mapper.readTree(Paths.get(work, "plan.json").toFile)
    val sf = s"$work/sf"
    val load0 = loadavg()

    val spark = session(cores, sf, work)
    val sessionS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    val wl = Workload(plan.get("workload").asText, spark, work, plan)
    val preflightS = timed(graft.model.Contracts.preflight(spark, sf))
    val buildS = (0 until reps).map(i => timed(wl.build(i)))
    val warmS = timed(wl.warmup())
    val setupS = sessionS + preflightS + median(buildS) + warmS

    val traces = phases.map(p => p -> new Trace(spark, enabled = p == "traced"))
    val ops = runRounds(wl, traces.map { case (p, t) =>
      (t, seconds * phaseShare(phases, p)) }, cores)
    val phaseOut = traces.zip(ops).map { case ((p, t), o) =>
      J.obj("name" -> p, "ops" -> J.arr(o),
        "spans" -> J.arr(t.spans.toSeq.map(s => J.obj("id" -> s.id,
          "name" -> s.name, "parent" -> s.parent, "op" -> s.op,
          "start_s" -> s.start / 1e9, "end_s" -> s.end / 1e9))))
    }
    val rss = peakRssMb()
    val live = liveHeapMb()
    val checkS = timed(wl.finalCheck())
    // single-threaded baseline: the same workload continued, traced, in a
    // fresh local[1] session of this (already warm) JVM
    val single = a.get("single-seconds").map(_.toDouble).filter(_ > 0).map { s =>
      spark.stop()
      SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      wl.spark = session(1, sf, work)
      val t = new Trace(wl.spark, enabled = true)
      val o = runRounds(wl, Seq((t, s)), 1).head
      J.obj("name" -> "single", "ops" -> J.arr(o), "spans" -> J.arr(Nil))
    }
    val result = J.obj(
      "workload" -> wl.name, "cores" -> cores,
      "loadavg_start" -> load0, "loadavg_end" -> loadavg(),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "shuffle_partitions" ->
        spark.conf.get("spark.sql.shuffle.partitions"),
      "setup" -> J.obj("session_s" -> sessionS, "preflight_s" -> preflightS,
        "build_s" -> J.arr(buildS), "warmup_s" -> warmS, "setup_s" -> setupS),
      "phases" -> J.arr(phaseOut ++ single),
      "peak_rss_mb" -> rss,
      "heap_live_mb" -> live,
      "check_s" -> (checkS + wl.checkS),
      "failures" -> J.arr(wl.failures.toSeq),
      "checked" -> wl.checked,
      "query_results" -> J.arr(wl.resultDirs.toSeq.map { case (q, d) =>
        J.obj("query" -> q, "dir" -> d,
          "oracle_sql" -> graft.SparkEntry.oracleSql(q)) }))
    mapper.writeValue(Paths.get(a("out")).toFile, result)
    wl.spark.stop()
  }

  /** Whole rounds of operations, handed to the phases in turn (so a
    * traced phase and its untraced base see the same warm-up). A phase
    * takes its first round whatever it costs, and a further one only if a
    * round as long as its last would still end within its `budget` seconds
    * of operation time. Rounds stop when no phase takes one or the
    * generated inputs run out, so each phase measures at most its budget,
    * or its first round. A traced phase's listeners are attached only
    * during its own rounds. */
  def runRounds(wl: Workload, phases: Seq[(Trace, Double)], cores: Int)
      : Seq[Seq[java.util.Map[String, Any]]] = {
    val out = phases.map(_ => mutable.ArrayBuffer.empty[java.util.Map[String, Any]])
    val measured = Array.fill(phases.size)(0.0)
    val lastRound = Array.fill(phases.size)(0.0)
    var turn = 0
    def open = phases.indices.filter(i =>
      measured(i) == 0.0 || measured(i) + lastRound(i) <= phases(i)._2)
    while (open.nonEmpty && wl.hasNextRound) {
      val i = open.find(_ >= turn).getOrElse(open.head)
      turn = (i + 1) % phases.size
      val trace = phases(i)._1
      val start = measured(i)
      trace.attach()
      wl.nextRound().foreach { op =>
        wl.beforeOp(op, trace.enabled)
        val (res, wall, m) = trace.op(out(i).size, op.span, cores) {
          try Right(wl.run(op, trace)) catch { case e: Exception => Left(e) }
        }
        measured(i) += wall
        val ok = res match {
          case Left(e) =>
            wl.fail(s"${op.label}: ${e.getClass.getSimpleName}: ${e.getMessage}")
            false
          case Right(r) => wl.check(op, r)
        }
        val extra = if (trace.enabled) wl.layerMetrics(op) else Map.empty
        out(i) += J.obj("kind" -> op.kind, "name" -> op.label,
          "family" -> op.family, "wall_s" -> wall, "items" -> op.items,
          "ok" -> ok, "m" -> J.obj((m ++ extra).toSeq: _*))
      }
      trace.detach()
      lastRound(i) = measured(i) - start
    }
    out.map(_.toSeq)
  }
}

/** Minimal JSON tree building for the result file. */
object J {
  private def conv(v: Any): Any = v match {
    case s: Seq[_]    => J.arr(s)
    case m: Map[_, _] => J.obj(m.toSeq.map { case (k, x) => k.toString -> x }: _*)
    case o            => o
  }
  def obj(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, conv(v)) }
    m
  }
  def arr(xs: Seq[Any]): java.util.List[Any] = xs.map(conv).asJava
  def strings(n: JsonNode): Seq[String] =
    n.elements().asScala.map(_.asText).toSeq
}
