package perfbench

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Per-layer figures of a traced run: spans from the client, Spark job and
  * stage intervals and task metrics from the listener, planning times and
  * write statistics from the query listener. Job intervals carry
  * millisecond timestamps, so they are matched to spans with 1 ms slack. */
final class Layers(tr: Tracer, jobs: Seq[JobRec], stages: Seq[StageRec], queries: Seq[QueryRec],
                   phases: Map[Int, String], ops: Seq[OpRec]) {
  private val spans = tr.spans.asScala.toSeq.filter(_.endNs >= 0)
  private val byOp = spans.groupBy(_.op)
  private val doneJobs = jobs.filter(_.endMs >= 0)
  private val jobsByOp = doneJobs.groupBy(_.op)
  private val opIds = ops.map(_.op)

  private def ms(s: Span): (Double, Double) = (s.startNs / 1e6, s.endNs / 1e6)
  private def ms(j: JobRec): (Double, Double) = (j.startMs.toDouble, j.endMs.toDouble)

  /** Operations that ran an analysis, and the post-shuffle stages of each:
    * the window, final aggregation and cube join that run after the scan. */
  private val analysisOps = opIds.filter(op => byOp.getOrElse(op, Nil).exists(_.name == "operators.analysis")).toSet
  private def analysisMs(op: Int): Double =
    if (!analysisOps(op)) 0.0
    else unionLen(stages.filter(st => st.op == op && st.postShuffle).map(st => (st.startMs.toDouble, st.endMs.toDouble)))

  /** Length of the union of intervals, each clipped to `within`. */
  private def unionLen(iv: Seq[(Double, Double)], within: (Double, Double) = (Double.MinValue, Double.MaxValue)): Double = {
    val clipped = iv.map { case (a, b) => (math.max(a, within._1), math.min(b, within._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var (cs, ce) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (cs.isNaN || a > ce) { if (!cs.isNaN) total += ce - cs; cs = a; ce = b }
      else ce = math.max(ce, b)
    }
    if (!cs.isNaN) total += ce - cs
    total
  }

  private def jobsIn(s: Span): Seq[JobRec] = {
    val (a, b) = ms(s)
    doneJobs.filter(j => j.startMs >= a - 1 && j.startMs <= b + 1)
  }

  private def execMs(op: Int): Double = unionLen(jobsByOp.getOrElse(op, Nil).map(ms))

  /** Self time per layer for one operation: each span's duration minus the
    * part covered by its child spans and by the Spark jobs that started
    * inside it (and in none of its children). Jobs are reported per owning
    * span as `spark.jobs[<span>]`, the union of their intervals. */
  def selfTimes(op: Int): Map[String, Double] = {
    val ss = byOp.getOrElse(op, Nil)
    val children = ss.groupBy(_.parent)
    def depth(s: Span): Int = Iterator.iterate(s.parent)(p => ss.find(_.id == p).fold(0)(_.parent))
      .takeWhile(_ != 0).size
    val owner: Map[Int, Seq[JobRec]] = jobsByOp.getOrElse(op, Nil).groupBy { j =>
      ss.filter(s => j.startMs >= ms(s)._1 - 1 && j.startMs <= ms(s)._2 + 1)
        .sortBy(s => -depth(s)).headOption.fold(0)(_.id)
    }
    def label(s: Span) = if (s.name == "op") "client" else s.name
    val self = ss.map { s =>
      val covered = children.getOrElse(s.id, Nil).map(ms) ++ owner.getOrElse(s.id, Nil).map(ms)
      label(s) -> (s.ms - unionLen(covered, ms(s)))
    }
    val jobTime = owner.toSeq.map { case (id, js) =>
      s"spark.jobs[${ss.find(_.id == id).fold("client")(label)}]" -> unionLen(js.map(ms))
    }
    (self ++ jobTime).groupMapReduce(_._1)(_._2)(_ + _)
  }

  def metrics: Seq[(String, Double, String)] = {
    def med(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs.toSeq)
    def perOp(f: Int => Double) = med(opIds.map(f))
    def meanPerOp(f: Int => Double) = if (opIds.isEmpty) 0.0 else opIds.map(f).sum / opIds.size
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    val wall = ops.map(o => o.op -> o.ms).toMap
    val opJobs = (op: Int) => jobsByOp.getOrElse(op, Nil)

    // reads: timed operations that read through BucketReader
    val readOps = opIds.filter(tr.counter(_, "reads") > 0)
    def readSum(k: String) = readOps.map(tr.counter(_, k)).sum
    def readMed(k: String) = med(readOps.map(id => tr.counter(id, k) / tr.counter(id, "reads")))
    val readerSpans = spans.filter(s => s.name == "sources.bucket_reader" && readOps.contains(s.op))

    val writers = spans.filter(_.name == "sources.bucket_writer")
    val merges = spans.filter(_.name == "sources.merge")
    val mergeJobs = merges.map(jobsIn)

    Seq(
      ("core.session_ms", spans.filter(_.name == "core").map(_.ms).sum, "ms"),
      ("sources.bucket_info.read_ms", meanPerOp(tr.counter(_, "sources.bucket_info_ms")), "ms"),
      ("sources.bucket_reader.build_ms", med(readerSpans.map(_.ms)), "ms"),
      ("sources.bucket_reader.list_ms", meanPerOp(tr.counter(_, "sources.bucket_reader.list_ms")), "ms"),
      ("sources.bucket_reader.files_listed", readMed("sources.bucket_reader.files_listed"), "count"),
      ("sources.bucket_reader.files_read", readMed("sources.bucket_reader.files_read"), "count"),
      ("sources.bucket_reader.read_listed_ratio",
        ratio(readSum("sources.bucket_reader.files_read"), readSum("sources.bucket_reader.files_listed")), "ratio"),
      ("partitioning.cells_selected", readMed("partitioning.cells_selected"), "count"),
      ("partitioning.cells_hit", readMed("partitioning.cells_hit"), "count"),
      ("partitioning.hit_ratio", ratio(readSum("partitioning.cells_hit"), readSum("partitioning.cells_selected")), "ratio"),
      ("operators.spatial_filters.rows_in", readMed("operators.spatial_filters.rows_in"), "count"),
      ("operators.spatial_filters.rows_out", readMed("operators.spatial_filters.rows_out"), "count"),
      ("spark.plan_ms", perOp(op => queries.filter { q =>
        val o = ops.find(_.op == op).get
        q.startMs >= o.startNs / 1e6 - 1 && q.startMs <= o.endNs / 1e6 + 1
      }.map(_.planMs).sum), "ms"),
      ("spark.exec_ms", perOp(execMs), "ms"),
      ("spark.jobs", perOp(opJobs(_).size.toDouble), "count"),
      ("spark.tasks", perOp(opJobs(_).map(_.tasks).sum.toDouble), "count"),
      ("spark.driver_gap_ms", perOp(op => wall(op) - execMs(op)), "ms"),
      ("spark.shuffle_write_bytes", perOp(opJobs(_).map(_.shuffleWriteBytes).sum.toDouble), "B"),
      ("spark.stage_cpu_s", perOp(opJobs(_).map(_.cpuNs).sum / 1e9), "s"),
      // a share, not a time: on point_reads no analysis runs, and a time
      // that reads 0 on every run could not be told from a stuck counter
      ("operators.analysis.exec_share", ratio(opIds.map(analysisMs).sum, ops.map(_.ms).sum), "ratio"),
      ("sources.bucket_writer.ms", med(writers.map(_.ms)), "ms"),
      ("sources.bucket_writer.files_written", med(writers.map(s => tr.counter(s.op, s.name + ".files_written"))), "count"),
      ("sources.bucket_writer.bytes_written", med(writers.map(jobsIn(_).map(_.bytesWritten).sum.toDouble)), "B"),
      ("sources.merge.ms", med(merges.map(_.ms)), "ms"),
      ("sources.merge.jobs", med(mergeJobs.map(_.size.toDouble)), "count"),
      ("sources.merge.driver_gap_ms", med(merges.zip(mergeJobs).map { case (s, js) => s.ms - unionLen(js.map(ms), ms(s)) }), "ms"),
      ("sources.merge.files_written", med(merges.map(s => tr.counter(s.op, s.name + ".files_written"))), "count"),
      ("sources.merge.rows_scanned_per_row_written",
        ratio(mergeJobs.flatten.map(_.recordsRead).sum, mergeJobs.flatten.map(_.recordsWritten).sum), "ratio"),
      ("jvm.gc_ms", meanPerOp(op => ops.find(_.op == op).get.gcMs), "ms"))
  }

  /** Markdown table per layer: median self time per operation, its share of
    * summed wall time, and the median inclusive time (self plus children
    * and the jobs it started); then how far layers plus jobs miss the wall
    * time. */
  def table(workload: String): String = {
    val per = opIds.map(selfTimes)
    val inclusive = opIds.map(op => byOp.getOrElse(op, Nil).groupMapReduce(s =>
      if (s.name == "op") "client" else s.name)(_.ms)(_ + _))
    val names = per.flatMap(_.keys).distinct.sorted
    val totalWall = ops.map(_.ms).sum
    val residual = ops.zip(per).map { case (o, t) => math.abs(o.ms - t.values.sum) / o.ms }
    val rows = names.map { n =>
      val xs = per.map(_.getOrElse(n, 0.0))
      val incl = if (n.startsWith("spark.jobs[")) xs else per.indices.map(i => inclusive(i).getOrElse(n, 0.0))
      f"| $workload | $n | ${Stats.median(xs)}%.2f | ${100 * xs.sum / totalWall}%.1f%% | ${Stats.median(incl)}%.2f |"
    }
    val gap = ops.map(o => o.ms - execMs(o.op))
    (Seq("| workload | layer | self ms/op (median) | self share of wall | inclusive ms/op (median) |",
      "|---|---|---|---|---|") ++ rows ++ Seq(
      f"| $workload | (wall) | ${Stats.median(ops.map(_.ms))}%.2f | 100%% | |",
      f"| $workload | (driver gap = wall - jobs) | ${Stats.median(gap)}%.2f | ${100 * gap.sum / totalWall}%.1f%% | |",
      f"| $workload | (jvm.gc, overlaps the above) | ${Stats.median(ops.map(_.gcMs))}%.2f | ${100 * ops.map(_.gcMs).sum / totalWall}%.1f%% | |",
      f"| $workload | (operators.analysis stages, inside spark.jobs[spark]) | ${Stats.median(opIds.map(analysisMs))}%.2f | " +
        f"${100 * opIds.map(analysisMs).sum / totalWall}%.1f%% | |",
      "",
      f"$workload: ${ops.size} operations; layers + jobs differ from wall by at most ${100 * (residual :+ 0.0).max}%.2f%% " +
        f"(median ${100 * Stats.median(residual :+ 0.0)}%.3f%%)"))
      .mkString("\n")
  }

  /** All spans, jobs, stages and queries as JSON lines. */
  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.sortBy(_.startNs).map(s =>
      s"""{"span": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, "phase": "${phases.getOrElse(s.op, "")}", """ +
        s""""name": "${s.name}", "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""") ++
      doneJobs.map(j =>
        s"""{"job": ${j.id}, "op": ${j.op}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, "tasks": ${j.tasks}, """ +
          s""""cpu_ns": ${j.cpuNs}, "shuffle_write_bytes": ${j.shuffleWriteBytes}, "records_read": ${j.recordsRead}, """ +
          s""""records_written": ${j.recordsWritten}, "bytes_written": ${j.bytesWritten}}""") ++
      stages.map(st =>
        s"""{"stage": ${st.id}, "op": ${st.op}, "start_ms": ${st.startMs}, "end_ms": ${st.endMs}, """ +
          s""""cpu_ns": ${st.cpuNs}, "post_shuffle": ${st.postShuffle}}""") ++
      queries.map(q => s"""{"query_start_ms": ${q.startMs}, "plan_ms": ${q.planMs}}""")
    Files.write(path, lines.asJava)
  }
}
