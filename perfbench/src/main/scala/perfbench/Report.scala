package perfbench

import java.nio.file.{Files, Path}

final case class Metric(name: String, value: Double, unit: String)

/** Per-layer metric names and the JSON result line. Every traced run
  * reports every per-layer metric; a layer a traced run never calls reads
  * 0 (no time spent, no jobs run). */
object Report {
  /** Spans and Spark counters of one part of a traced run: the traced
    * operations, or the layer pass with the legs. */
  final case class Recorded(spans: Seq[Span], counts: Map[String, Counts])

  /** metric → span name; seconds per operation summed over that span. */
  val SpanTimes: Seq[(String, String)] = Seq(
    "io.partition_ids_s" -> "io.partition_ids",
    "io.snapshot_s" -> "io.snapshot",
    "runner.sink_s" -> "runner.sink",
    "runner.drift_s" -> "runner.drift",
    "runner.manifest_record_s" -> "runner.manifest_record",
    "validate.call_s" -> "validate.call",
    "validate.violations_s" -> "validate.violations",
    "validate.survivors_s" -> "validate.survivors")

  /** Timings a workload's layer pass measures on their own. */
  val LayerPass: Seq[String] = Seq(
    "io.scan_s",
    "transcript.row_violations_s", "transcript.seq_table_s", "transcript.key_seq_violations_s",
    "transcript.conv_verdicts_s", "transcript.referential_s", "transcript.partition_verdicts_s",
    "transcript.health_check_s", "transcript.clean_rows_s", "transcript.drift_s",
    "schema.load_s", "expr.compile_s")

  /** Layers whose Spark work is summed from the job tags. */
  val CounterLayers: Seq[String] = Seq("io", "transcript", "runner", "validate", "stream")

  /** Span and counter figures are per traced operation for the layers the
    * workload's own operations call, else per layer pass (legs included).
    * `results` are the traced operations and the legs' operations. */
  def perLayer(workload: String, k: Int, results: Seq[OpResult], ops: Recorded, pass: Recorded,
               layer: Map[String, Double]): Seq[Metric] = {
    val unknown = layer.keySet -- LayerPass
    require(unknown.isEmpty, s"$workload layer pass reports undeclared ${unknown.mkString(",")}")
    def samples(key: String) = results.flatMap(_.samples.getOrElse(key, Nil))
    def extra(key: String) = results.flatMap(_.extra.get(key))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def tail(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.tail(xs)
    val partitions = samples("partition_wall_s")
    val batches = samples("stream.batch_s")

    val spanMetrics = SpanTimes.map { case (m, name) =>
      val own = ops.spans.filter(_.name == name)
      val secs =
        if (own.nonEmpty) own.map(_.durNs).sum / 1e9 / k
        else pass.spans.filter(_.name == name).map(_.durNs).sum / 1e9
      Metric(m, secs, "s")
    }
    val layerMetrics = LayerPass.map(m => Metric(m, layer.getOrElse(m, 0.0), "s"))
    val runner = Seq(
      Metric("runner.partition_p50_s", med(partitions), "s"),
      Metric("runner.partition_tail_s", tail(partitions), "s"),
      Metric("runner.partition_samples", partitions.size.toDouble, "count"),
      Metric("runner.resume_skip_s", med(extra("resume_skip_s")), "s"))
    val stream = Seq(
      Metric("stream.batch_p50_s", med(batches), "s"),
      Metric("stream.batch_tail_s", tail(batches), "s"),
      Metric("stream.batches", batches.size.toDouble, "count"),
      Metric("stream.state_rows", med(extra("stream.state_rows")), "count"),
      Metric("stream.state_mem_mb", med(extra("stream.state_mem_mb")), "MB"),
      Metric("stream.state_growth", med(extra("stream.state_growth")), "ratio"),
      Metric("stream.late_dropped", med(extra("stream.late_dropped")), "count"))
    val counters = CounterLayers.flatMap { l =>
      def of(r: Recorded) = r.counts.filter(_._1.takeWhile(_ != '.') == l).values.toSeq
      val (cs, n) = if (of(ops).nonEmpty) (of(ops), k) else (of(pass), 1)
      val c = new Counts
      cs.foreach(c.add)
      Seq(
        Metric(s"$l.plan_s", c.planMs / 1e3 / n, "s"),
        Metric(s"$l.jobs", c.jobs.toDouble / n, "count"),
        Metric(s"$l.stages", c.stages.toDouble / n, "count"),
        Metric(s"$l.tasks", c.tasks.toDouble / n, "count"),
        Metric(s"$l.task_s", c.taskMs / 1e3 / n, "s"),
        Metric(s"$l.shuffle_write_mb", c.shuffleWriteB / 1048576.0 / n, "MB"),
        Metric(s"$l.shuffle_read_mb", c.shuffleReadB / 1048576.0 / n, "MB"),
        Metric(s"$l.shuffle_records", c.shuffleRecords.toDouble / n, "count"),
        Metric(s"$l.spill_mb", c.spillB / 1048576.0 / n, "MB"),
        Metric(s"$l.peak_exec_mem_mb", c.peakExecMemB / 1048576.0, "MB"),
        Metric(s"$l.task_skew", c.taskSkew, "ratio"),
        Metric(s"$l.input_skew", c.inputSkew, "ratio"))
    }
    spanMetrics ++ layerMetrics ++ runner ++ stream ++ counters
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString

  def json(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[Metric]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map(m => s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
        .mkString(", ") + "}}"

  /** The span tree (one JSON object per span, with self time) followed by
    * the Spark counters per part of the run and job tag. */
  def writeTrace(path: Path, tr: Tracer, counts: Seq[(String, Map[String, Counts])]): Unit = {
    Files.createDirectories(path.getParent)
    val tags = for ((part, cs) <- counts; (t, c) <- cs.toSeq.sortBy(_._1)) yield {
      s"""{"part":"$part","tag":"$t","jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks},""" +
        s""""task_ms":${c.taskMs},"plan_ms":${c.planMs},"shuffle_write_b":${c.shuffleWriteB},""" +
        s""""shuffle_read_b":${c.shuffleReadB},"shuffle_records":${c.shuffleRecords},""" +
        s""""spill_b":${c.spillB},"peak_exec_mem_b":${c.peakExecMemB},"task_skew":${num(c.taskSkew)},""" +
        s""""input_skew":${num(c.inputSkew)}}"""
    }
    Files.writeString(path, (tr.toJsonLines ++ tags).mkString("", "\n", "\n"))
  }
}
