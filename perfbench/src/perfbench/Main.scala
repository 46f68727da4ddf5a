package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.apache.spark.unsafe.types.UTF8String

import graft.{Engine, Probe}
import graft.functions.SketchWire

/** One benchmark run in one JVM: set up `SetupReps` times, run the
  * workload's rotation as a closed loop with one client for whole rounds
  * of at least `--seconds`, and write every figure to `--out` as JSON.
  * The Python runner checks the first-pass dumps against DuckDB and prints
  * the result; see `perfbench/README.md`.
  *
  * With `--trace 1` the warm-up is a whole round, and the loop then runs
  * every operation twice in a row, once traced and once not, alternating
  * which goes first. Per-layer metrics come from the traced passes; the
  * ratio of the traced and untraced passes' `ops_per_s` is
  * `trace.overhead_ratio`, both sides equally warm.
  */
object Main {
  val Cores = 4
  val SetupReps = 3

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      fixtures: Path, work: Path, out: Path, rows: Long, deadlineS: Double)

  final case class OpRun(id: Long, name: String, round: Int, traced: Boolean, latencyS: Double,
      cpuS: Double, rows: Long, startMs: Long, endMs: Long, error: Option[String]) {
    def ok: Boolean = error.isEmpty
  }

  final case class Part(session: Double, register: Double, inputs: Double, warmup: Double) {
    def total: Double = session + register + inputs + warmup
  }

  private val t0Ns = System.nanoTime()
  private def now: Double = (System.nanoTime() - t0Ns) / 1e9
  private def secsSince(ns: Long): Double = (System.nanoTime() - ns) / 1e9
  private def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def get(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(get("workload"), get("seed").toLong, get("seconds").toDouble, get("trace") == "1",
      Path.of(get("fixtures")), Path.of(get("work")), Path.of(get("out")),
      get("rows").toLong, m.getOrElse("deadline-s", "150").toDouble)
  }

  def session(a: Args): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", a.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", a.work.resolve("warehouse").toString)
    val traced = if (!a.trace) b else b
      .config("spark.extraListeners", classOf[JobTrace].getName)
      .config("spark.sql.queryExecutionListeners", classOf[SqlTrace].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamTrace].getName)
    val s = traced.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** The highest latency with at least ten samples above it, and the
    * percentile it sits at; a run with ten samples or fewer has no such
    * percentile and reports its maximum.
    */
  def tail(xs: Seq[Double]): (Double, String) = {
    val s = xs.sorted
    if (s.isEmpty) (0.0, "none")
    else if (s.size <= 10) (s.last, "p100")
    else (s(s.size - 11), f"p${100.0 * (s.size - 10) / s.size}%.1f")
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload)
    Files.createDirectories(a.work)
    val cpuBefore = Probe.cpuProbeSecs()

    // setup, repeated: session build, register, inputs, template pre-build
    var spark: SparkSession = null
    var ctx: SetupCtx = null
    val parts = (0 until SetupReps).map { rep =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      ctx = SetupCtx(rep, a.work, a.fixtures, a.seed, a.rows)
      var t = System.nanoTime()
      def lap(): Double = { val d = secsSince(t); t = System.nanoTime(); d }
      spark = session(a)
      val sSession = lap()
      Engine.register(spark)
      val sRegister = lap()
      w.inputs(spark, ctx)
      val sInputs = lap()
      w.warmup(spark, ctx)
      val part = Part(sSession, sRegister, sInputs, lap())
      println(f"[perfbench] $now%.1f s: setup ${rep + 1}/$SetupReps took ${part.total}%.2f s")
      part
    }
    val oracle = new OracleDumps(a.work.resolve("dumps"))
    val ops = w.ops(spark, ctx, oracle)
    Probe.sparkProbeSecs(spark) // untimed: its own codegen must not ride the reading
    val sparkBefore = Probe.sparkProbeSecs(spark)

    val start = Math.floorMod(a.seed, ops.size.toLong).toInt
    var nextId = 0L
    var heapMax = 0L

    val heapBean = ManagementFactory.getMemoryMXBean
    val sc = spark.sparkContext

    def runOp(op: Op, round: Int, traced: Boolean): OpRun = {
      System.gc()
      heapMax = math.max(heapMax, heapBean.getHeapMemoryUsage.getUsed)
      nextId += 1
      if (traced) {
        Trace.enabled = true
        sc.setLocalProperty(Trace.OpProperty, nextId.toString)
      }
      val startMs = System.currentTimeMillis()
      val c0 = cpuNs
      val n0 = System.nanoTime()
      val res = try { val df = op.run(spark); Right((df, df.collect())) }
        catch { case NonFatal(e) => Left(s"${e.getClass.getSimpleName}: ${e.getMessage}") }
      val lat = secsSince(n0)
      val cpu = (cpuNs - c0) / 1e9
      val endMs = System.currentTimeMillis()
      if (traced) {
        sc.setLocalProperty(Trace.OpProperty, null)
        Trace.drain() // listener delivery is asynchronous; not timed
        Trace.enabled = false
      }
      val error = res match {
        case Right((df, rows)) =>
          try op.check(df, rows)
          catch { case NonFatal(e) => Some(s"check failed: ${e.getMessage}") }
        case Left(e) => Some(e)
      }
      spark.catalog.clearCache()
      OpRun(nextId, op.name, round, traced, lat, cpu, op.rows, startMs, endMs,
        error.map(_.take(300)))
    }

    /** Whole rounds for at least `--seconds`; each step runs the operation
      * at rotation position `i` once, or in trace mode twice (traced second
      * on even positions, first on odd ones). Also says whether the
      * deadline stopped the loop before its first round or mid-round, when
      * the runs no longer hold the workload's operation mix.
      */
    def loop(): (Seq[OpRun], Boolean) = {
      val runs = mutable.ArrayBuffer.empty[OpRun]
      val t0 = System.nanoTime()
      var i = 0
      while ((i == 0 || secsSince(t0) < a.seconds || i % ops.size != 0) && now < a.deadlineS) {
        val op = ops((start + i) % ops.size)
        val passes =
          if (!a.trace) Seq(false) else if (i % 2 == 0) Seq(false, true) else Seq(true, false)
        runs ++= passes.map(t => runOp(op, i / ops.size, t))
        i += 1
      }
      (runs.toSeq, i == 0 || i % ops.size != 0)
    }

    // untimed, so that the first timed operations do not absorb one-time
    // costs; tracing compares passes that are equally warm
    val warmup = (if (w.warmRound || a.trace) ops.indices else Seq(ops.size - 1))
      .map(i => runOp(ops((start + i) % ops.size), -1, traced = false))
    println(f"[perfbench] $now%.1f s: loop starts at ${ops(start).name}")
    val (runs, truncated) = loop()
    val (tracedRuns, untracedRuns) = runs.partition(_.traced)
    println(f"[perfbench] $now%.1f s: loop done, ${runs.size} operations" +
      (if (truncated) ", cut by the deadline" else ""))
    val cpuAfter = Probe.cpuProbeSecs()
    val sparkAfter = Probe.sparkProbeSecs(spark)

    def ratio(x: Double, y: Double) = if (y > 0) x / y else 0.0
    def opsPerS(rs: Seq[OpRun]) = ratio(rs.count(_.ok), rs.map(_.latencyS).sum)
    val (tailV, tailP) = tail(untracedRuns.filter(_.ok).map(_.latencyS))
    // rows_per_s: the generated table's rows aggregated per second of the
    // operations that read it (distinct_agg only)
    val rowRuns = untracedRuns.filter(r => r.ok && r.rows > 0)
    val rowsPerS =
      if (!ops.exists(_.rows > 0)) Nil
      else Seq(("rows_per_s",
        ratio(rowRuns.map(_.rows).sum, rowRuns.map(_.latencyS).sum), "rows/s"))
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", median(parts.map(_.total)), "s"),
      ("ops_per_s", opsPerS(untracedRuns), "1/s"),
      ("op_p50_s", median(untracedRuns.filter(_.ok).map(_.latencyS)), "s"),
      ("op_tail_s", tailV, "s"),
      ("cpu_s_per_op", ratio(untracedRuns.map(_.cpuS).sum, untracedRuns.size), "s")) ++ rowsPerS :+
      (("live_heap_mb", heapMax / 1048576.0, "MB"))

    val layers: Seq[(String, Double, String)] =
      if (!a.trace) Nil
      else {
        val partMetrics = Seq(
          ("setup.session_s", median(parts.map(_.session)), "s"),
          ("setup.register_s", median(parts.map(_.register)), "s"),
          ("setup.inputs_s", median(parts.map(_.inputs)), "s"),
          ("setup.warmup_s", median(parts.map(_.warmup)), "s"))
        val fn = if (w eq DistinctAgg) functionMetrics(spark, untracedRuns) else Seq(
          ("functions.builtin_ratio", 0.0, "ratio"),
          ("functions.wire_serialize_mb_s", 0.0, "MB/s"),
          ("functions.wire_merge_mb_s", 0.0, "MB/s"))
        partMetrics ++ fn ++ TraceReport.metrics(tracedRuns, Cores) :+
          (("trace.overhead_ratio", ratio(opsPerS(tracedRuns), opsPerS(untracedRuns)), "ratio"))
      }
    if (a.trace)
      TraceReport.dump(tracedRuns, a.out.resolveSibling(s"${a.out.getFileName}.spans.json"))

    def runJson(r: OpRun) = Json.Obj(Seq("name" -> r.name, "round" -> r.round,
      "traced" -> r.traced, "latency_s" -> r.latencyS, "error" -> r.error))
    def metricsJson(ms: Seq[(String, Double, String)]) =
      Json.Obj(ms.map { case (n, v, u) => n -> Json.Obj(Seq("value" -> v, "unit" -> u)) })
    val oracleSql = oracle.dumped.map(q => q -> graft.SparkEntry.oracleSql(q))
    val out = Json.Obj(Seq(
      "workload" -> a.workload, "seed" -> a.seed, "trace" -> a.trace,
      "op_names" -> ops.map(_.name), "truncated" -> truncated,
      "rotation_start" -> ops(start).name,
      "rounds" -> (if (untracedRuns.isEmpty) 0 else untracedRuns.last.round + 1),
      "warmup" -> warmup.map(runJson), "ops" -> untracedRuns.map(runJson),
      "traced_ops" -> tracedRuns.map(runJson),
      "tail" -> Json.Obj(Seq("percentile" -> tailP, "samples" -> untracedRuns.count(_.ok))),
      "probes" -> Json.Obj(Seq("cpu_before_s" -> cpuBefore, "cpu_after_s" -> cpuAfter,
        "spark_before_s" -> sparkBefore, "spark_after_s" -> sparkAfter)),
      "metrics" -> metricsJson(e2e), "per_layer" -> metricsJson(layers),
      "dumps" -> Json.Obj(oracleSql)))
    Files.writeString(a.out, out.render)
    spark.stop()
    sys.exit(0)
  }

  /** `distinct_agg` only: count300k against the built-in count(DISTINCT)
    * of the same shape, and `SketchWire` throughput on the hottest group's
    * distinct keys.
    */
  def functionMetrics(spark: SparkSession, untraced: Seq[OpRun]): Seq[(String, Double, String)] = {
    val builtin = median((1 to 3).map { _ =>
      val t = System.nanoTime(); DistinctAgg.builtinMulti(spark).collect(); secsSince(t)
    })
    val ours = median(untraced.filter(r => r.ok && r.name == "count300k_multi").map(_.latencyS))
    val set = mutable.HashSet.empty[UTF8String]
    DistinctAgg.hotKeys(spark).foreach(k => set += UTF8String.fromString(k))
    var bytes: Array[Byte] = null
    val ser = median((1 to 5).map { _ =>
      val t = System.nanoTime(); bytes = SketchWire.serialize(set); secsSince(t)
    })
    val merge = median((1 to 5).map { _ =>
      val t = System.nanoTime(); SketchWire.mergeInto(mutable.HashSet.empty, bytes); secsSince(t)
    })
    val mb = bytes.length / 1e6
    Seq(("functions.builtin_ratio", ours / builtin, "ratio"),
      ("functions.wire_serialize_mb_s", mb / ser, "MB/s"),
      ("functions.wire_merge_mb_s", mb / merge, "MB/s"))
  }
}

/** Minimal JSON writer; doubles keep all their digits. */
object Json {
  final case class Obj(fields: Seq[(String, Any)]) {
    def render: String = Json.render(this)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => quote(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case o: Obj => o.fields.map { case (k, x) => quote(k) + ":" + render(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => other.toString
  }
}
