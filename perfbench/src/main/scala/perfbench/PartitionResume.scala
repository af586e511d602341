package perfbench

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.io.{ParquetPartitionedSource, TableSource}
import graft.transcript._

/** Times the io layer through the source's public functions. */
final class TracedSource(inner: TableSource, tr: Tracer) extends TableSource {
  def snapshotId: String = tr.span("io.snapshot")(inner.snapshotId)
  override def partitionSnapshotId(p: Int): String =
    tr.span("io.snapshot")(inner.partitionSnapshotId(p))
  def partitionIds(): Seq[Int] = tr.span("io.partition_ids")(inner.partitionIds())
  def readPartition(p: Int): DataFrame = tr.span("io.read_partition")(inner.readPartition(p))
  def read(): DataFrame = tr.span("io.read")(inner.read())
}

/** `partition_resume`: the CLI's `transcripts --checkpoint --violations
  * --baseline --max-concurrent <cores>` path over many small partitions,
  * then a second run over the unchanged table that must skip them all. */
final class PartitionResume(ctx: Ctx) extends Workload {
  val name = "partition_resume"
  private val input =
    if (ctx.smoke) new TranscriptInput(ctx, name, 300, 1500, 4, 1e-2, withBaseline = true)
    else new TranscriptInput(ctx, name, 1500, 8000, 16, 1e-3, withBaseline = true)
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var source: TableSource = _
  private var keys: DataFrame = _
  private var baseline: Map[String, Drift.Histogram] = _
  private var want: TranscriptExpected = _
  private var nOps = 0
  private val validator = new TranscriptValidator()

  def prepare(s: SparkSession): Unit = input.prepare(s)

  def open(s: SparkSession, t: Tracer): Unit = {
    spark = s; tr = t
    source = new TracedSource(new ParquetPartitionedSource(s, input.table), t)
    keys = s.read.parquet(input.keys)
    baseline = Drift.snapshotFromJson(Files.readString(input.baseline))
  }

  def warm(): Unit = {
    val r = validator.validate(source.readPartition(source.partitionIds().head), Some(keys))
    r.partitionVerdicts.collect()
    r.cleanup()
  }

  def expect(): Seq[String] = {
    want = TranscriptRecount(new ParquetPartitionedSource(spark, input.table).read(), keys)
    if (want.rows.size < 2) Seq("fewer than two partitions") else Nil
  }

  private def runner(dir: java.nio.file.Path): ResumableRunner = {
    val manifest = new CheckpointManifest(dir.resolve("manifest.json").toString) {
      override def record(e: PartitionEntry): Unit =
        tr.span("runner.manifest_record")(super.record(e))
    }
    val sinkDir = dir.resolve("violations").toString
    val sink = (p: Int, r: TranscriptReport) => tr.span("runner.sink") {
      r.violations.write.mode("overwrite").parquet(s"$sinkDir/partition_id=$p")
    }
    val drift = ResumableRunner.DriftCheck(
      baseline = baseline,
      histograms = df => tr.span("runner.drift")(TranscriptInput.histograms(df)),
      columns = Seq("role", "text"),
      onVerdicts = _ => ())
    new ResumableRunner(source, manifest, validator, Some(keys), Some(sink),
      maxConcurrent = ctx.cores, driftCheck = Some(drift))
  }

  def op(): OpResult = {
    nOps += 1
    val dir = ctx.scratch.resolve(s"resume-$nOps")
    Inputs.deleteTree(dir)
    val t0 = System.nanoTime()
    val first = tr.span("runner.run")(runner(dir).run())
    val t1 = System.nanoTime()
    val second = tr.span("runner.resume")(runner(dir).run())
    val t2 = System.nanoTime()

    // per partition: its manifest entry and the sink's rows vs the recount
    val written = spark.read.option("recursiveFileLookup", "true")
      .parquet(dir.resolve("violations").toString)
      .groupBy("partition_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val entries = first.validated.map(e => e.partitionId -> e).toMap
    val badFirst = want.rows.keys.count { p =>
      entries.get(p).forall { e =>
        e.rowsScanned != want.rows(p) || e.violations != want.partViolations(p) ||
          written.getOrElse(p, 0L) != e.violations
      }
    }
    val extra = first.validated.size + first.skipped.size - want.rows.size
    val badSecond = second.validated.size +
      want.rows.keys.count(p => !second.skipped.contains(p))
    val attempted = 2 * want.rows.size
    val failed = math.min(attempted, badFirst + badSecond + math.abs(extra))
    if (failed > 0) System.err.println(s"[perfbench] $name: $badFirst partitions wrong, " +
      s"${second.validated.size} re-validated on resume, ${first.skipped.size} skipped on first run")
    Inputs.deleteTree(dir)
    OpResult((t1 - t0) / 1e9, want.totalRows, attempted, failed,
      extra = Map("resume_skip_s" -> (t2 - t1) / 1e9),
      samples = Map("partition_wall_s" -> first.validated.map(_.wallMs / 1e3)))
  }
}
