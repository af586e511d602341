package graft.validate

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{array, col, explode, lit}
import org.apache.spark.sql.types._

/** Violation row shape — the flattened error table of the reference
  * (kyepy `kye/errors/validation_errors.py:117-124`: one row per
  * (row, column) after double-explode; column-level errors carry a null
  * `row`). */
object Violations {
  val schema: StructType = StructType(Seq(
    StructField("err", StringType, nullable = false),
    StructField("model", StringType, nullable = false),
    StructField("row", LongType, nullable = true),
    StructField("col", StringType, nullable = true),
    StructField("loc", StringType, nullable = true),
    StructField("expected", StringType, nullable = true)))

  /** Small driver-side violation set (column-level errors: MissingIndex,
    * InvalidType). */
  def local(spark: SparkSession,
            rows: Seq[(String, String, Option[Long], Option[String], Option[String], Option[String])]): DataFrame = {
    val data = rows.map { case (err, model, row, c, loc, exp) =>
      Row(err, model, row.map(Long.box).orNull, c.orNull, loc.orNull, exp.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
  }

  def empty(spark: SparkSession): DataFrame = local(spark, Nil)

  /** Row-level violations: projects each offending row of `rows` onto
    * [[schema]], anchored on its `rowId` column — one violation per row, or
    * one per (row, edge) when `column` is an exploded [[edges]] list. */
  def project(rows: DataFrame, rowId: String, err: Column, model: String, column: Column,
              loc: Column, expected: Column = text(None)): DataFrame =
    rows.select(err.as("err"), lit(model).as("model"),
      col(rowId).cast(LongType).as("row"), column.as("col"), loc.as("loc"),
      expected.as("expected"))

  /** The `col` of a violation naming `names`: one row per edge, or a single
    * null `col` when the check names no edge. */
  def edges(names: Seq[String]): Column =
    if (names.isEmpty) text(None) else explode(array(names.map(lit): _*))

  /** An optional string as a typed literal column. */
  def text(s: Option[String]): Column = lit(s.orNull).cast(StringType)
}
