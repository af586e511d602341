package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.transcript.Constraints._

/** Expected transcript-suite outputs, recounted from the raw table with
  * plain DataFrame aggregations (no validator call):
  *  - `byPart` — violation count per (partition_id, constraint_id);
  *  - `rows` — input rows per partition;
  *  - conversation verdicts and the clean-row count.
  * Sequence gaps are recounted by a different method than the validator
  * uses: a turn is a gap when the turn before it is absent and it is not
  * the conversation's first non-positive turn (anti-join, no window). */
final case class TranscriptExpected(
    rows: Map[Int, Long],
    byPart: Map[(Int, String), Long],
    convs: Long,
    passConvs: Long,
    cleanRows: Long) {
  def total(c: String): Long = byPart.collect { case ((_, k), n) if k == c => n }.sum
  def partViolations(p: Int): Long = byPart.collect { case ((q, _), n) if q == p => n }.sum
  def totalRows: Long = rows.values.sum
}

object TranscriptRecount {
  val Roles = Seq("system", "user", "assistant", "tool")

  /** Per-row constraint failures, written independently of the suite. */
  def rowFails: Seq[(String, org.apache.spark.sql.Column)] = Seq(
    NullConvId -> col("conv_id").isNull,
    NullTurnIdx -> col("turn_idx").isNull,
    NegTurnIdx -> (col("turn_idx") < 0),
    NullRole -> col("role").isNull,
    RoleEnum -> (col("role").isNotNull && !col("role").isin(Roles: _*)),
    NullText -> col("text").isNull,
    NullTs -> col("ts").isNull,
    ToolRole -> (col("tool").isNotNull && (col("role").isNull || col("role") =!= "tool")))

  def apply(df: DataFrame, keys: DataFrame): TranscriptExpected = {
    val fails = rowFails
    val rowAgg = df.groupBy(col("partition_id"))
      .agg(count(lit(1)).as("n"), fails.map { case (c, f) => sum(when(f, 1L).otherwise(0L)).as(c) }: _*)
      .collect()
    val rows = rowAgg.map(r => r.getInt(0) -> r.getLong(1)).toMap
    val rowCounts = rowAgg.flatMap { r =>
      fails.indices.map(i => (r.getInt(0), fails(i)._1) -> r.getLong(i + 2))
    }

    val turns = df.filter(col("conv_id").isNotNull && col("turn_idx").isNotNull)
      .groupBy(col("conv_id"), col("turn_idx"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("min_ts"), max(col("ts")).as("max_ts"),
        min(col("partition_id")).as("pid"))
      .cache()
    val convMin = turns.groupBy(col("conv_id")).agg(min(col("turn_idx")).as("first"))
    val prevPresent = turns.select(col("conv_id"), (col("turn_idx") + 1).as("turn_idx"))
    val gaps = turns.join(prevPresent, Seq("conv_id", "turn_idx"), "left_anti")
      .join(convMin, "conv_id")
      .filter(col("turn_idx") > 0 || col("turn_idx") > col("first"))
    val dups = turns.filter(col("n") > 1)
    val prevMax = last(col("max_ts"), ignoreNulls = true).over(
      Window.partitionBy(col("conv_id")).orderBy(col("turn_idx"))
        .rowsBetween(Window.unboundedPreceding, -1))
    val regressions = turns.withColumn("prev_max", prevMax)
      .filter(col("min_ts") < col("prev_max"))
    val convPid = turns.groupBy(col("conv_id")).agg(min(col("pid")).as("pid"))
    val orphans = convPid.join(keys.select("conv_id"), Seq("conv_id"), "left_anti")

    def kind(d: DataFrame, c: String): DataFrame = d.select(col("pid"), lit(c).as("kind"))
    val keyed = kind(dups, DupKey).union(kind(gaps, SeqGap)).union(kind(regressions, TsMonotone))
      .union(kind(orphans, OrphanConv))
      .groupBy("pid", "kind").count().collect()
      .map(r => (r.getInt(0), r.getString(1)) -> r.getLong(2)).toSeq

    val badSeq = dups.select("conv_id").union(gaps.select("conv_id"))
      .union(regressions.select("conv_id"))
      .union(convMin.filter(col("first") =!= 0).select("conv_id")).distinct()
    val rowBad = df.filter(fails.map(_._2).reduce(_ || _)).select("conv_id").distinct()
    val verdicts = convMin.join(badSeq.withColumn("bad", lit(true)), Seq("conv_id"), "left_outer")
      .agg(count(lit(1)), sum(when(col("bad").isNull, 1L).otherwise(0L))).collect()(0)
    val clean = df.join(convMin.join(badSeq, Seq("conv_id"), "left_anti"), Seq("conv_id"), "left_semi")
      .join(rowBad, Seq("conv_id"), "left_anti").count()
    turns.unpersist()

    val byPart = (rowCounts.toSeq ++ keyed).groupMapReduce(_._1)(_._2)(_ + _)
      .filter(_._2 > 0)
    TranscriptExpected(rows, byPart, verdicts.getLong(0), verdicts.getLong(1), clean)
  }
}
