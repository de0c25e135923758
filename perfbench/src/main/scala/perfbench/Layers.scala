package perfbench

/** Per-layer metrics derived from a traced run's spans and Spark task
  * records. Times and counts are per pass (or per call where named so),
  * so runs of different lengths compare.
  */
object Layers {

  /** The program's modules plus the benchmark's own operation spans. */
  val Modules: Seq[String] =
    Seq("bench", "config", "pipeline", "sources", "operators", "functions", "sinks",
      "streaming", "spark")

  final case class Agg(tasks: Seq[TaskRec]) {
    def sum(f: TaskRec => Long): Double = tasks.map(f).sum.toDouble
  }

  /** Tasks launched by jobs of any span in `spans`. */
  def tasksOf(trace: Trace, spans: Set[Int]): Agg =
    Agg(trace.allTasks.filter(t => spans.contains(t.span)))

  def jobsOf(trace: Trace, spans: Set[Int]): Int = spans.toSeq.map(trace.jobs).sum

  /** Wall time of `span` during which none of its tasks ran: job
    * dispatch, planning and driver-side work.
    */
  def idleMs(trace: Trace, span: Span): Double = {
    val tasks = tasksOf(trace, trace.subtree(span.id)).tasks
    val inside = tasks.map(t => (math.max(t.launch.toDouble, span.start),
      math.min(t.finish.toDouble, span.end)))
    span.ms - unionD(inside)
  }

  private def unionD(xs: Seq[(Double, Double)]): Double =
    Stats.unionLength(xs.map { case (s, e) => ((s * 1000).toLong, (e * 1000).toLong) }) / 1000.0

  def commitTailMs(trace: Trace, span: Span): Double = {
    val tasks = tasksOf(trace, trace.subtree(span.id)).tasks
    if (tasks.isEmpty) 0.0 else math.max(0.0, span.end - tasks.map(_.finish).max)
  }

  def skew(tasks: Seq[TaskRec]): Double = {
    val perStage = tasks.groupBy(_.stage).values.filter(_.size >= 4).map { ts =>
      val runs = ts.map(_.runMs.toDouble)
      runs.max / math.max(1.0, Stats.median(runs))
    }.toSeq
    if (perStage.isEmpty) 1.0 else Stats.median(perStage)
  }

  def generic(trace: Trace, passes: Seq[Pass]): Map[String, Double] = {
    val n = passes.size.toDouble
    val spans = trace.allSpans
    val byParent = spans.groupBy(_.parent)
    val self = Modules.map { m =>
      s"self_ms.$m" -> spans.filter(_.layer == m).map(s =>
        Stats.selfTime((s.start * 1000).toLong, (s.end * 1000).toLong,
          byParent.getOrElse(s.id, Nil).map(c =>
            ((c.start * 1000).toLong, (c.end * 1000).toLong))) / 1000.0).sum / n
    }.toMap
    val all = Agg(trace.allTasks)
    val opSpans = passes.flatMap(_.ops).flatMap(o => spans.find(_.id == o.span))
    val scan = Agg(all.tasks.filter(t => t.inBytes > 0 || t.inRecords > 0))
    val build = spans.filter(_.layer == "pipeline")
    val sinks = spans.filter(_.layer == "sinks")
    val sinkTasks = tasksOf(trace, sinks.flatMap(s => trace.subtree(s.id)).toSet)
    self ++ Map(
      "spark.jobs" -> jobsOf(trace, spans.map(_.id).toSet + Trace.NoSpan) / n,
      "spark.stages" -> (Trace.NoSpan +: spans.map(_.id)).map(trace.stages).sum / n,
      "spark.tasks" -> all.tasks.size / n,
      "spark.task_ms" -> all.sum(_.runMs) / n,
      "spark.cpu_ms" -> all.sum(_.cpuNs) / 1e6 / n,
      "spark.gc_ms" -> all.sum(_.gcMs) / n,
      "spark.idle_ms" -> opSpans.map(idleMs(trace, _)).sum / n,
      "spark.shuffle_read_bytes" -> all.sum(_.shuffleRead) / n,
      "spark.shuffle_write_bytes" -> all.sum(_.shuffleWrite) / n,
      "spark.spill_bytes" -> all.sum(_.spill) / n,
      "spark.task_skew" -> skew(all.tasks),
      "sources.scan_task_ms" -> scan.sum(_.runMs) / n,
      "sources.input_bytes" -> scan.sum(_.inBytes) / n,
      "sources.input_rows" -> scan.sum(_.inRecords) / n,
      "pipeline.build_ms" -> build.map(_.ms).sum / n,
      "pipeline.build_jobs" -> jobsOf(trace, build.flatMap(s => trace.subtree(s.id)).toSet) / n,
      "sinks.write_ms" -> sinks.map(_.ms).sum / n,
      "sinks.commit_tail_ms" -> sinks.map(commitTailMs(trace, _)).sum / n,
      "sinks.output_bytes" -> sinkTasks.sum(_.outBytes) / n,
      "config.parse_ms" -> {
        val c = spans.filter(_.layer == "config")
        if (c.isEmpty) 0.0 else c.map(_.ms).sum / c.size
      })
  }
}
