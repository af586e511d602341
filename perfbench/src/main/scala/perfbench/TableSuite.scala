package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.gen.TranscriptGen
import graft.io.ParquetPartitionedSource
import graft.transcript._

/** Seeded TranscriptGen table: Zipf-skewed conversation lengths, every
  * injected error kind, hive-partitioned by conversation hash, plus its
  * conversation key table and (optionally) a role/text-length drift
  * baseline. */
final class TranscriptInput(ctx: Ctx, label: String, numConvs: Long, targetRows: Long,
                            numPartitions: Int, rate: Double, withBaseline: Boolean) {
  val cfg: TranscriptGen.GenConfig = TranscriptGen.GenConfig(
    numConvs = numConvs, seed = ctx.seed, zipfAlpha = 1.3, maxLen = 4096,
    numPartitions = numPartitions,
    dupRate = rate, gapRate = rate, nullRoleRate = rate, badRoleRate = rate,
    negTurnRate = rate, nullTextRate = rate, tsRegressRate = rate, orphanConvRate = rate)
  val dir: java.nio.file.Path = ctx.inputDir(label)
  def table: String = dir.resolve("table").toString
  def keys: String = dir.resolve("conv_keys").toString
  def baseline: java.nio.file.Path = dir.resolve("baseline.json")

  /** The generated table cut to its first `targetRows` turns in conv_id
    * order (the conversation that crosses the target keeps its leading
    * turns), so every seed yields the same number of rows up to injected
    * duplicates: with Zipf lengths the full table's size varies by several
    * percent between seeds, and rows/s with it. Orphan rows count toward
    * the conversation they were derived from. */
  private def generate(spark: SparkSession): DataFrame = {
    val before = sum(col("conv_len")).over(Window.orderBy(col("conv_id"))) - col("conv_len")
    val kept = TranscriptGen.conversations(spark, cfg)
      .select(col("conv_id").as("_base"), col("conv_len"), before.as("_before"))
      .filter(col("_before") < targetRows)
      .select(col("_base"), when(col("_before") + col("conv_len") > targetRows,
        lit(targetRows) - col("_before")).as("_limit"))
    TranscriptGen.transcripts(spark, cfg)
      .withColumn("_base", regexp_replace(col("conv_id"), "^orphan-", ""))
      .join(kept, Seq("_base"))
      .filter(col("_limit").isNull || col("turn_idx") < col("_limit"))
      .drop("_base", "_limit")
  }

  def prepare(spark: SparkSession): Unit = {
    val gen = generate(spark)
    val tag = Inputs.tag(ctx.seed, gen, s"$cfg target=$targetRows baseline=$withBaseline")
    Inputs.cached(dir, tag) { d =>
      ParquetPartitionedSource.write(gen, d.resolve("table").toString)
      TranscriptGen.conversations(spark, cfg).select("conv_id")
        .write.mode("overwrite").parquet(d.resolve("conv_keys").toString)
      if (withBaseline) java.nio.file.Files.writeString(d.resolve("baseline.json"),
        Drift.snapshotToJson(TranscriptInput.histograms(spark.read.parquet(d.resolve("table").toString))))
    }
  }
}

object TranscriptInput {
  /** The CLI's role and text-length histograms. */
  def histograms(df: DataFrame): Map[String, Drift.Histogram] = Map(
    "role" -> Drift.collect(StatsProfiler.categoricalHistogram(df, col("role"))),
    "text_len" -> Drift.collect(
      StatsProfiler.numericHistogram(df, length(col("text")), 0, 20, 20)))

  val HealthCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts")
  val RowConstraints: Seq[String] = TranscriptRecount.rowFails.map(_._1)
}

/** `table_suite`: the whole transcript suite over one table per call. */
final class TableSuite(ctx: Ctx) extends Workload {
  val name = "table_suite"
  private val input =
    if (ctx.smoke) new TranscriptInput(ctx, name, 400, 2000, 4, 1e-2, withBaseline = false)
    else new TranscriptInput(ctx, name, 12000, 60000, 8, 1e-3, withBaseline = false)
  private var spark: SparkSession = _
  private var tr: Tracer = _
  private var source: ParquetPartitionedSource = _
  private var table: DataFrame = _
  private var keys: DataFrame = _
  private var want: Map[String, Long] = _
  private var nRows = 0L
  private val validator = new TranscriptValidator()

  def prepare(s: SparkSession): Unit = input.prepare(s)

  /** The checkpointed runner and the streaming checks, each on inputs of
    * its own: the suite call reaches neither, nor the io source's
    * partition listing and snapshots. */
  override val legs: Seq[Workload] = Seq(new PartitionResume(ctx), new StreamCheck(ctx))


  def open(s: SparkSession, t: Tracer): Unit = {
    spark = s; tr = t
    source = new ParquetPartitionedSource(s, input.table)
    table = source.read()
    keys = s.read.parquet(input.keys)
  }

  /** First call: the suite's violations on one partition. */
  def warm(): Unit = {
    val r = validator.validate(source.readPartition(source.partitionIds().head), Some(keys))
    r.violations.count()
    r.cleanup()
  }

  /** Forces every output of one suite call; returns its signature. */
  private def suite(df: DataFrame): Map[String, Long] = {
    val report = tr.span("transcript.validate")(validator.validate(df, Some(keys)))
    try {
      val byC = tr.span("transcript.violations")(
        report.violations.groupBy("constraint_id").count().collect())
        .map(r => s"v.${r.getString(0)}" -> r.getLong(1))
      val conv = tr.span("transcript.conv_verdicts")(report.convVerdicts
        .agg(count(lit(1)), sum(when(col("pass"), 1L).otherwise(0L))).collect()(0))
      val parts = tr.span("transcript.partition_verdicts")(
        report.partitionVerdicts.collect()).flatMap { r =>
        val p = r.getAs[Int]("partition_id")
        Seq(s"p$p.rows" -> r.getAs[Long]("rows_scanned"), s"p$p.violations" -> r.getAs[Long]("violations"))
      }
      val health = tr.span("transcript.health_check")(
        validator.healthCheck(df, TranscriptInput.HealthCols).collect()(0))
      val clean = tr.span("transcript.clean_rows")(
        validator.cleanRows(df, report.convVerdicts).count())
      (byC ++ parts).toMap ++ Map(
        "convs" -> conv.getLong(0), "conv_pass" -> conv.getLong(1),
        "h.total_rows" -> health.getAs[Long]("total_rows"), "clean_rows" -> clean) ++
        TranscriptInput.RowConstraints.map(c => s"h.viol_$c" -> health.getAs[Long](s"viol_$c"))
    } finally report.cleanup()
  }

  def expect(): Seq[String] = {
    val e = TranscriptRecount(table, keys)
    nRows = e.totalRows
    want = Constraints.all.map(c => s"v.$c" -> e.total(c)).filter(_._2 > 0).toMap ++
      e.rows.toSeq.flatMap { case (p, n) =>
        Seq(s"p$p.rows" -> n, s"p$p.violations" -> e.partViolations(p))
      } ++ Map("convs" -> e.convs, "conv_pass" -> e.passConvs,
        "h.total_rows" -> e.totalRows, "clean_rows" -> e.cleanRows) ++
      TranscriptInput.RowConstraints.map(c => s"h.viol_$c" -> e.total(c))
    TableSuite.Injected.filter(c => e.total(c) == 0).map(c => s"injected kind $c is absent")
  }

  def op(): OpResult = {
    val t0 = System.nanoTime()
    val got = suite(table)
    val dt = (System.nanoTime() - t0) / 1e9
    val bad = Check.diff(name, got, want)
    OpResult(dt, nRows, 1, if (bad.isEmpty) 0 else 1)
  }

  /** Each suite output forced on its own, plus the all-column scan and the
    * drift leg, so the transcript layer's steps read separately. */
  override def layerPass(): Map[String, Double] = {
    val v = new TranscriptValidator(TranscriptSuiteConfig(persistSeq = false))
    def timed(span: String)(f: => Unit): (String, Double) = {
      val t0 = System.nanoTime(); tr.span(span)(f); span + "_s" -> (System.nanoTime() - t0) / 1e9
    }
    def force(df: DataFrame): Unit = { df.write.format("noop").mode("overwrite").save(); () }
    val seq = v.seqTable(table)
    val baseline = TranscriptInput.histograms(table)
    Seq(
      timed("io.scan")(source.read().select(sum(xxhash64(source.read().columns.map(col): _*)
        .cast("double"))).collect()),
      timed("transcript.row_violations")(force(v.rowViolations(table))),
      timed("transcript.seq_table")(force(seq)),
      timed("transcript.key_seq_violations")(force(v.keySequenceViolations(seq))),
      timed("transcript.conv_verdicts")(force(v.convVerdicts(seq))),
      timed("transcript.referential")(force(v.referentialViolations(v.convVerdicts(seq), keys))),
      timed("transcript.partition_verdicts")(force(v.validate(table, Some(keys)).partitionVerdicts)),
      timed("transcript.health_check")(force(v.healthCheck(table, TranscriptInput.HealthCols))),
      timed("transcript.clean_rows")(force(v.cleanRows(table, v.convVerdicts(seq)))),
      timed("transcript.drift") {
        TranscriptInput.histograms(table).foreach { case (n, h) => Drift.verdict(n, baseline(n), h) }
      }).toMap
  }
}

object TableSuite {
  /** Error kinds TranscriptGen injects; each must be present in the input. */
  val Injected: Seq[String] = {
    import Constraints._
    Seq(DupKey, SeqGap, NullRole, RoleEnum, NegTurnIdx, NullText, TsMonotone, OrphanConv)
  }
}
