package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import Main.{OpRun, median}

/** Per-layer metrics and the span dump of a traced phase.
  *
  * Spans: operation → Spark job → stage, and operation → streaming batch;
  * every span of one operation carries its id. A span's self time is its
  * duration minus the part of it its child spans cover.
  */
object TraceReport {
  final case class Span(id: String, parent: Option[String], op: Long, kind: String,
      name: String, start: Long, end: Long, children: Seq[(Long, Long)]) {
    def selfMs: Long = (end - start) - covered(children, start, end)
  }

  /** Milliseconds of [lo, hi] covered by the union of `xs`. */
  def covered(xs: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var reach = lo
    xs.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { total += e - math.max(s, reach); reach = e }
      }
    total
  }

  private def jobsOf(op: OpRun): Seq[Trace.Job] =
    Trace.jobs.values.asScala.filter(_.op == op.id).toSeq.sortBy(_.id)
  private def stagesOf(job: Trace.Job): Seq[Trace.Stage] =
    Trace.stages.asScala.filter(_.job == job.id).toSeq
  private def within(op: OpRun, t: Long) = t >= op.startMs && t <= op.endMs
  private def batchesOf(op: OpRun): Seq[Trace.Batch] =
    Trace.batches.asScala.filter(b => within(op, b.start)).toSeq
  private def batchEnd(b: Trace.Batch) = b.start + b.durations.getOrElse("triggerExecution", 0L)

  def spans(ops: Seq[OpRun]): Seq[Span] = ops.flatMap { op =>
    val jobs = jobsOf(op)
    val batches = batchesOf(op)
    val opSpan = Span(s"op${op.id}", None, op.id, "operation", op.name, op.startMs, op.endMs,
      jobs.map(j => (j.start, j.end)) ++ batches.map(b => (b.start, batchEnd(b))))
    val jobSpans = jobs.flatMap { j =>
      val stages = stagesOf(j)
      Span(s"job${j.id}", Some(opSpan.id), op.id, "job", s"job ${j.id}", j.start, j.end,
        stages.map(s => (s.start, s.end))) +:
        stages.map(s => Span(s"stage${s.id}", Some(s"job${j.id}"), op.id, "stage",
          s"stage ${s.id} (${s.tasks} tasks)", s.start, s.end, Nil))
    }
    val batchSpans = batches.zipWithIndex.map { case (b, i) =>
      Span(s"op${op.id}.batch$i", Some(opSpan.id), op.id, "batch", "micro-batch",
        b.start, batchEnd(b), Nil)
    }
    opSpan +: (jobSpans ++ batchSpans)
  }

  def dump(ops: Seq[OpRun], path: Path): Unit = {
    val json = spans(ops).map(s => Json.Obj(Seq("span" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start,
      "end_ms" -> s.end, "self_ms" -> s.selfMs)))
    Files.writeString(path, Json.render(json))
  }

  def metrics(ops: Seq[OpRun], cores: Int): Seq[(String, Double, String)] = {
    val n = ops.size.toDouble
    val jobs = ops.map(op => op -> jobsOf(op))
    val allJobs = jobs.flatMap(_._2)
    val stages = allJobs.flatMap(stagesOf)
    val sqls = Trace.sqls.asScala.filter(s => ops.exists(op => within(op, s.start))).toSeq
    val batches = ops.flatMap(batchesOf)
    val starts = Trace.starts.asScala.count(t => ops.exists(op => within(op, t)))
    val wall = ops.map(_.latencyS).sum
    val mb = 1e6
    def perOp(x: Double) = x / n
    def perBatch(key: String) =
      if (batches.isEmpty) 0.0 else batches.map(_.durations.getOrElse(key, 0L)).sum.toDouble / batches.size
    val driverMs = jobs.map { case (op, js) =>
      (op.endMs - op.startMs) - covered(js.map(j => (j.start, j.end)), op.startMs, op.endMs)
    }.sum
    val perQuery = ops.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (q, rs) =>
      Seq((s"operators.$q.wall_s", median(rs.map(_.latencyS)), "s"),
        (s"operators.$q.jobs", median(rs.map(r => jobsOf(r).size.toDouble)), "count"))
    }
    Seq(
      ("functions.agg_s_per_op", perOp(sqls.map(_.aggMs).sum / 1000.0), "s"),
      ("functions.state_mb_per_op", perOp(sqls.map(_.stateBytes).sum / mb), "MB"),
      ("functions.sort_fallback_tasks", sqls.map(_.fallbacks).sum.toDouble, "count"),
      ("spark.jobs_per_op", perOp(allJobs.size), "count"),
      ("spark.stages_per_op", perOp(stages.size), "count"),
      ("spark.tasks_per_op", perOp(stages.map(_.tasks).sum), "count"),
      ("spark.busy_share", stages.map(_.runMs).sum / 1000.0 / (wall * cores), "ratio"),
      ("spark.task_s_per_op", perOp(stages.map(_.runMs).sum / 1000.0), "s"),
      ("spark.gc_s_per_op", perOp(stages.map(_.gcMs).sum / 1000.0), "s"),
      ("spark.shuffle_write_mb_per_op", perOp(stages.map(_.shuffleWrite).sum / mb), "MB"),
      ("spark.shuffle_read_mb_per_op", perOp(stages.map(_.shuffleRead).sum / mb), "MB"),
      ("spark.input_mb_per_op", perOp(stages.map(_.input).sum / mb), "MB"),
      ("spark.spill_mb_per_op", perOp(stages.map(_.spill).sum / mb), "MB"),
      ("operators.driver_s_per_op", perOp(driverMs / 1000.0), "s"),
      ("sources.files_written_per_op", perOp(sqls.map(_.files).sum.toDouble), "count"),
      ("sources.rows_written_per_op", perOp(sqls.map(_.rowsWritten).sum.toDouble), "count"),
      ("sources.write_mb_per_op", perOp(sqls.map(_.bytesWritten).sum / mb), "MB"),
      ("streaming.starts_per_op", perOp(starts), "count"),
      ("streaming.batches_per_op", perOp(batches.size), "count"),
      ("streaming.batch_p50_ms",
        median(batches.map(_.durations.getOrElse("triggerExecution", 0L).toDouble)), "ms"),
      ("streaming.add_batch_ms_per_batch", perBatch("addBatch"), "ms"),
      ("streaming.planning_ms_per_batch", perBatch("queryPlanning"), "ms"),
      ("streaming.wal_commit_ms_per_batch", perBatch("walCommit"), "ms"),
      ("streaming.latest_offset_ms_per_batch", perBatch("latestOffset"), "ms")) ++ perQuery
  }
}
