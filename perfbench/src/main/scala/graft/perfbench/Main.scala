package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One timed operation of the measured phase (or an output check). */
final case class OpRec(i: Int, kind: String, cls: String, seconds: Double,
                       ok: Boolean, err: String = "", name: String = "",
                       digest: String = "")

/** What every workload gets: the session, the tracer and its directories. */
final case class Ctx(spark: SparkSession, tracer: Tracer, input: String,
                     tables: String, work: String, cpus: Int)

abstract class Workload(val ctx: Ctx) {
  protected def spark: SparkSession = ctx.spark
  protected def tracer: Tracer = ctx.tracer

  /** Timed set-up: warms the JVM and builds the state the measured phase
    * serves. */
  def setup(): Unit
  /** Run op `i` of the seeded sequence; Nil once the sequence is exhausted. */
  def step(i: Int): Seq[OpRec]
  /** Output checks that run right after set-up. */
  def afterSetup(): Seq[OpRec] = Nil
  /** Output checks that run after the measured phase. */
  def finish(): Seq[OpRec] = Nil
  /** Ops per block: every block of the seeded sequence has the same op
    * multiset, and the measured phase ends on a block boundary. The traced
    * run's per-layer report covers the first block, so its counts repeat. */
  def blockSize: Int
  /** Workload-specific results for the report. */
  def extras: Map[String, Any] = Map.empty

  /** Time `body` as op `i`; `check` runs after the clock stops and returns
    * a mismatch description, if any. */
  protected def timed(i: Int, kind: String, cls: String, name: String = "")(body: => Unit)
                     (check: => Option[String] = None): OpRec = {
    val t0 = System.nanoTime()
    val err = try { tracer.span(kind, "op", i)(body); None }
    catch { case t: Throwable => Some(Main.describe(t)) }
    val sec = (System.nanoTime() - t0) / 1e9
    val bad = err.orElse(try check catch { case t: Throwable => Some("check failed: " + Main.describe(t)) })
    OpRec(i, kind, cls, sec, bad.isEmpty, bad.getOrElse(""), name)
  }

  protected def checkOp(name: String)(check: => Option[String]): OpRec = {
    val t0 = System.nanoTime()
    val bad = try check catch { case t: Throwable => Some(Main.describe(t)) }
    OpRec(-1, "check", "check", (System.nanoTime() - t0) / 1e9, bad.isEmpty, bad.getOrElse(""), name)
  }
}

/** Benchmark JVM: `--workload W --input DIR --tables DIR --work DIR --seconds S --trace 0|1 --out FILE`.
  * Runs the set-up, the closed-loop measured phase (one client) and
  * the output checks, then writes every raw sample to FILE; `run.py` turns
  * them into metrics. */
object Main {
  def describe(t: Throwable): String =
    (t.getClass.getSimpleName + ": " + Option(t.getMessage).getOrElse("")).take(300).replace('\n', ' ')

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val work = a("work")
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors)
    val load0 = loadavg()

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.catalog.graft", "graft.sources.GraftCatalog")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    val tracer = new Tracer(spark.sparkContext, trace)
    val ctx = Ctx(spark, tracer, a("input"), a("tables"), work, cpus)

    val w: Workload = workload match {
      case "batch_queries" => new BatchQueries(ctx)
      case "index_serving" => new IndexServing(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    // set-up; its spans make the trace's set-up section
    val s0 = System.nanoTime()
    w.setup()
    val setupS = (System.nanoTime() - s0) / 1e9
    val setupChecks = w.afterSetup()
    val calib0 = calibrate(spark, cpus)
    val setupSpans = tracer.spans.toVector
    tracer.clear()

    val recs = mutable.ArrayBuffer.empty[OpRec]
    val p0 = System.nanoTime()
    val deadline = p0 + (seconds * 1e9).toLong
    var i = 0
    var exhausted = false
    // closed loop, one client: run whole blocks until the deadline has passed
    while (!exhausted && (System.nanoTime() < deadline || i % w.blockSize != 0)) {
      val r = w.step(i)
      if (r.isEmpty) exhausted = true else recs ++= r
      i += 1
    }
    val phaseS = (System.nanoTime() - p0) / 1e9
    val spansOfPhase = tracer.spans.toVector
    tracer.stop()
    val checks = setupChecks ++ w.finish()
    val calib1 = calibrate(spark, cpus)

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload,
      "seed" -> a("seed").toLong,
      "trace" -> trace,
      "seconds" -> seconds,
      "session_start_s" -> sessionS,
      "setup_body_s" -> setupS,
      "phase_s" -> phaseS,
      "exhausted" -> exhausted,
      "ops" -> recs.map(opJson),
      "checks" -> checks.map(opJson),
      "extras" -> w.extras,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors,
        "local_cores" -> cpus,
        "loadavg_before" -> load0,
        "loadavg_after" -> loadavg(),
        "calib_before_s" -> calib0,
        "calib_after_s" -> calib1,
        "java" -> System.getProperty("java.version"),
        "spark" -> spark.version,
        "driver_max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "rss_peak_mb" -> vmHwmMb()))
    // the per-layer report covers the first block, so its counts repeat
    if (trace) out("trace") = Report.layers(spansOfPhase.filter(s => s.op >= 0 && s.op < w.blockSize), cpus) +
      ("setup" -> Report.layers(setupSpans, cpus)("metrics"))
    Files.writeString(Paths.get(a("out")), Json(out))
    if (trace) writeSpans(Paths.get(work, "spans.jsonl"), spansOfPhase)
    graft.ops.LlmOps.release()
    spark.stop()
  }

  private def opJson(r: OpRec): Map[String, Any] =
    Map("i" -> r.i, "kind" -> r.kind, "cls" -> r.cls, "s" -> r.seconds, "ok" -> r.ok,
      "err" -> r.err, "name" -> r.name, "digest" -> r.digest)

  private def writeSpans(p: Path, spans: Seq[Span]): Unit =
    Files.write(p, spans.map(s => Json(Map(
      "id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent, "op" -> s.op,
      "start_ms" -> s.startMs, "end_ms" -> s.endMs, "s" -> s.seconds,
      "jobs" -> s.c.jobs, "stages" -> s.c.stages, "tasks" -> s.c.tasks,
      "cpu_s" -> s.c.cpuNs / 1e9, "shuffle_write_bytes" -> s.c.shuffleWrite,
      "facts" -> s.facts.toMap))).asJava)

  /** Fixed CPU + shuffle probe (the engine bench's host-health probe). */
  def calibrate(spark: SparkSession, cpus: Int): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 20000000L, 1, cpus).selectExpr("count(distinct id % 1000)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  private def loadavg(): Seq[Double] =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+").take(3).map(_.toDouble).toSeq

  def vmHwmMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
}

/** Minimal JSON writer for the raw result file. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
