package perfbench

import java.nio.file.{Files, Path}
import java.nio.file.attribute.FileTime
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._
import graft.streaming.StreamingValidator
import graft.transcript.Drift
import scala.jdk.CollectionConverters._

/** `stream_check`: a parquet file source replayed over pre-written
  * micro-batch files, one file per micro-batch. Batch `b` carries turns
  * [b·T, (b+1)·T) of one fixed set of conversations, plus a replay of the
  * previous batch's last turn for every 97th conversation and, from batch
  * 3 on, a replay of turn 0 for every 211th: by then turn 0's event time
  * is older than the drift monitor's 10-minute watermark, so those rows
  * arrive late there. Three queries
  * run one after another over the same files: the stateless row
  * violations, the stateful sequence check and the windowed role-drift
  * monitor. */
final class StreamCheck(ctx: Ctx) extends Workload {
  val name = "stream_check"
  private val convs = if (ctx.smoke) 200 else 2000
  private val batches = if (ctx.smoke) 3 else 6
  private val turnsPerBatch = 5
  private val rate = if (ctx.smoke) 2e-2 else 2e-3
  private val Epoch0 = 1704067200L

  private var spark: SparkSession = _
  private var tr: Tracer = _
  private val dir: Path = ctx.inputDir(name)
  private var baseline: Drift.Histogram = _
  private var perBatchRows: IndexedSeq[Long] = _
  private var perBatchRowViolations: IndexedSeq[Long] = _
  private var perBatchReplays: IndexedSeq[Long] = _
  private var nOps = 0

  private def src: Path = dir.resolve("source")
  private def warmSrc: Path = dir.resolve("warm")

  val schema: StructType = StructType(Seq(
    StructField("conv_id", StringType), StructField("turn_idx", IntegerType),
    StructField("role", StringType), StructField("text", StringType),
    StructField("tool", StringType), StructField("ts", TimestampType)))

  private def batch(s: SparkSession, b: Int): DataFrame = {
    val base = s.range(0, convs, 1, 4).select(
      concat(lit("conv-"), lpad(col("id").cast("string"), 6, "0")).as("conv_id"), col("id").as("c"))
    val turns = base.crossJoin(s.range(0, turnsPerBatch).toDF("k"))
      .select(col("conv_id"), col("c"), (lit(b * turnsPerBatch) + col("k")).cast("int").as("turn"))
    val replays = base.filter(pmod(col("c"), lit(97L)) === 0)
      .select(col("conv_id"), col("c"), lit(b * turnsPerBatch - 1).as("turn"))
    val late = base.filter(pmod(col("c"), lit(211L)) === 0)
      .select(col("conv_id"), col("c"), lit(0).as("turn"))
    val all = (Seq(turns) ++ Option.when(b > 0)(replays) ++ Option.when(b >= 3)(late)).reduce(_ union _)
    def gate(salt: String) =
      pmod(xxhash64(col("conv_id"), col("turn"), lit(s"$salt-${ctx.seed}")), lit(1000000L)) <
        lit((rate * 1e6).toLong)
    val role = when(col("turn") === 0, lit("system"))
      .when(pmod(col("turn"), lit(7)) === 3, lit("tool"))
      .when(pmod(col("turn"), lit(2)) === 1, lit("user")).otherwise(lit("assistant"))
    all.select(
      col("conv_id"), col("turn").as("turn_idx"),
      when(gate("null-role"), lit(null: String)).when(gate("bad-role"), lit("robot"))
        .otherwise(role).as("role"),
      when(gate("null-text"), lit(null: String))
        .otherwise(concat(lit("t:"), col("conv_id"), lit(":"), col("turn").cast("string"))).as("text"),
      when(role === "tool", lit("search")).otherwise(lit(null: String)).as("tool"),
      (lit(Epoch0) + col("turn").cast("long") * 60L + pmod(col("c"), lit(30L))).cast("timestamp").as("ts"))
  }

  def prepare(s: SparkSession): Unit = {
    val tag = Inputs.tag(ctx.seed, (0 until batches).map(batch(s, _)).reduce(_ union _),
      s"convs=$convs batches=$batches turns=$turnsPerBatch rate=$rate")
    Inputs.cached(dir, tag) { d =>
      Files.createDirectories(d.resolve("source"))
      Files.createDirectories(d.resolve("warm"))
      val stage = d.resolve("stage")
      // one parquet file per micro-batch, modification times in batch
      // order: the file source replays files oldest first
      for (b <- 0 until batches) {
        batch(s, b).coalesce(1).write.mode("overwrite").parquet(stage.toString)
        val part = Files.list(stage).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val out = d.resolve("source").resolve(f"batch-$b%04d.parquet")
        Files.move(part, out)
        Files.setLastModifiedTime(out, FileTime.fromMillis(1700000000000L + b * 1000L))
        if (b == 0) Files.copy(out, d.resolve("warm").resolve(out.getFileName))
        Inputs.deleteTree(stage)
      }
      val all = s.read.schema(schema).parquet(d.resolve("source").toString)
      Files.writeString(d.resolve("baseline.json"), Drift.snapshotToJson(Map(
        "role" -> Drift.collect(graft.transcript.StatsProfiler.categoricalHistogram(all, col("role"))))))
    }
  }

  def open(s: SparkSession, t: Tracer): Unit = {
    spark = s; tr = t
    baseline = Drift.snapshotFromJson(Files.readString(dir.resolve("baseline.json")))("role")
  }

  private def files: Seq[Path] = {
    val st = Files.list(src)
    try st.iterator().asScala.toSeq.filter(_.toString.endsWith(".parquet")).sortBy(_.getFileName.toString)
    finally st.close()
  }

  /** Plain recount per batch file: rows, row-constraint failures (one
    * violation row per failing constraint) and replays (turns below the
    * batch's first turn). The batch suite over the same files must agree. */
  def expect(): Seq[String] = {
    val m = recount()
    perBatchRows = (0 until batches).map(b => m(s"b$b.rows"))
    perBatchRowViolations = (0 until batches).map(b => m(s"b$b.row_violations"))
    perBatchReplays = (0 until batches).map(b => m(s"b$b.replays"))
    (if (m("batch_suite") != perBatchRowViolations.sum)
      Seq(s"batch rowViolations ${m("batch_suite")} != recount ${perBatchRowViolations.sum}") else Nil) ++
      (if (perBatchRowViolations.sum == 0) Seq("no row violations injected") else Nil) ++
      (if (perBatchReplays.sum == 0) Seq("no replays injected") else Nil)
  }

  private def recount(): Map[String, Long] = {
    val anyFail = TranscriptRecount.rowFails.map { case (_, p) => when(p, 1L).otherwise(0L) }
      .reduce(_ + _)
    val per = files.zipWithIndex.flatMap { case (f, b) =>
      val r = spark.read.schema(schema).parquet(f.toString).agg(count(lit(1)), sum(anyFail),
        sum(when(col("turn_idx") < b * turnsPerBatch, 1L).otherwise(0L))).collect()(0)
      Seq(s"b$b.rows" -> r.getLong(0), s"b$b.row_violations" -> r.getLong(1),
        s"b$b.replays" -> r.getLong(2))
    }
    val batchSuite = StreamingValidator.rowViolations(
      spark.read.schema(schema).parquet(src.toString)).count()
    per.toMap + ("batch_suite" -> batchSuite)
  }

  private def source(path: Path): DataFrame =
    spark.readStream.schema(schema).option("maxFilesPerTrigger", 1).parquet(path.toString)

  /** Runs the three queries over `path`, each to completion, with fresh
    * checkpoints under `ck`. */
  private def runAll(path: Path, ck: Path): Seq[StreamCheck.Run] = {
    import StreamCheck.Run
    val session = spark
    import session.implicits._
    def collected(span: String, ds: DataFrame, key: Column): Run = tr.span(span) {
      val out = new ConcurrentHashMap[Long, Map[String, Long]]()
      val q = ds.writeStream
        .foreachBatch { (b: Dataset[Row], id: Long) =>
          out.put(id, b.groupBy(key).count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap)
          ()
        }
        .option("checkpointLocation", ck.resolve(span).toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      Run(q.recentProgress.toSeq, out.asScala.toMap)
    }
    val rows = collected("stream.row_violations",
      StreamingValidator.rowViolations(source(path)), lit("rows"))
    val turns = source(path).select(col("conv_id"), col("turn_idx"), col("ts"))
      .as[StreamingValidator.TsTurnEvent]
    // no idle timeout: with processing-time timeouts registered, every
    // AvailableNow trigger keeps scheduling no-data batches to fire them
    // and the run never ends
    val seq = collected("stream.stateful",
      StreamingValidator.statefulTranscriptCheck(turns, idleTimeoutMs = 0).toDF(), col("kind"))
    val drift = tr.span("stream.drift_monitor") {
      val q = StreamingValidator.startWindowedDriftMonitor(source(path), "ts", col("role"), "role",
        baseline, (_, _) => (), checkpointLocation = Some(ck.resolve("drift").toString))
      try q.processAllAvailable() finally q.stop()
      Run(q.recentProgress.toSeq, Map.empty)
    }
    Seq(rows, seq, drift)
  }

  def warm(): Unit = {
    val ck = ctx.scratch.resolve("stream-warm")
    Inputs.deleteTree(ck)
    runAll(warmSrc, ck)
    Inputs.deleteTree(ck)
  }

  def op(): OpResult = {
    nOps += 1
    val ck = ctx.scratch.resolve(s"stream-$nOps")
    Inputs.deleteTree(ck)
    val t0 = System.nanoTime()
    val Seq(rows, seq, drift) = runAll(src, ck)
    val dt = (System.nanoTime() - t0) / 1e9
    Inputs.deleteTree(ck)

    def inputRows(r: StreamCheck.Run): Map[Long, Long] =
      r.progress.filter(_.numInputRows > 0).map(p => p.batchId -> p.numInputRows).toMap
    val failed = (0 until batches).count { b =>
      val id = b.toLong
      rows.perBatch.get(id).forall(_.getOrElse("rows", 0L) != perBatchRowViolations(b)) ||
        seq.perBatch.get(id).forall(_ != Map("dup_or_regression" -> perBatchReplays(b))
          .filter(_._2 > 0)) ||
        Seq(rows, seq, drift).exists(r => !inputRows(r).get(id).contains(perBatchRows(b)))
    }
    if (failed > 0) System.err.println(s"[perfbench] $name: $failed of $batches micro-batches wrong")
    val state = seq.progress.filter(_.numInputRows > 0).map(_.stateOperators.head)
    val batchS = Seq(rows, seq, drift).flatMap(_.progress.filter(_.numInputRows > 0))
      .map(_.durationMs.get("triggerExecution").longValue / 1e3)
    val warmState = state(math.min(1, state.size - 1)).numRowsTotal.toDouble
    OpResult(dt, perBatchRows.sum, 3 * batches, math.min(3 * batches, 3 * failed),
      extra = Map(
        "stream.state_rows" -> state.last.numRowsTotal.toDouble,
        "stream.state_mem_mb" -> state.last.memoryUsedBytes / 1048576.0,
        "stream.state_growth" -> (if (warmState > 0) state.last.numRowsTotal / warmState else 0.0),
        "stream.late_dropped" -> drift.progress.flatMap(_.stateOperators)
          .map(_.numRowsDroppedByWatermark).sum.toDouble),
      samples = Map("stream.batch_s" -> batchS))
  }
}

object StreamCheck {
  /** One query's progress reports and per-micro-batch output counts. */
  final case class Run(progress: Seq[StreamingQueryProgress], perBatch: Map[Long, Map[String, Long]])
}
