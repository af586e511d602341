package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.schema.CompiledSchema
import graft.validate.{Validator, ValidatorConfig}

/** `kye_hotkey`: the Kye loader's eight stages on a compiled model with two
  * alternate indexes, a composite index, a Number→String implicit-cast
  * column and two assertions.
  *
  * Shape: the input of the repo's `q_kye_index_conflict` query (the
  * sf0.1 `events` table: 100k rows, one row per key value, two alternate
  * keys that collide across rows), with the heavy hitter of ROADMAP item 4
  * added: one entity holds `hotShare` of all rows, so one `_v` of the
  * alternate-key repartition holds most rows.
  *
  * Construction (entity `e`, row `r`): order_id = e; alt_id = e + 1 when
  * e % 1000 == 0 (so it collides with entity e + 1's order_id: an
  * IndexConflict pair), else 10·E + e; (region, seq) = (e % 50, e / 50);
  * code = 7e (a Number stored where the model declares String); amount and
  * qty fail their assertions on rows picked by a seeded hash. Entity 0 is
  * the hot entity and sits in a conflict pair. */
final class KyeHotkey(ctx: Ctx) extends Workload {
  val name = "kye_hotkey"
  private val nRows: Long = if (ctx.smoke) 20000L else 100000L
  private val hotShare = 0.6
  private val hotRows = (nRows * hotShare).toLong
  private val entities = 1 + nRows - hotRows
  private val failRate = if (ctx.smoke) 1e-2 else 1e-3

  private var spark: SparkSession = _
  private var tr: Tracer = _
  private val dir = ctx.inputDir(name)
  private def path: String = dir.resolve("orders").toString
  private var data: DataFrame = _
  private var validator: Validator = _
  private var want: Map[String, Long] = _

  private def u(salt: String) =
    pmod(xxhash64(col("_row"), lit(s"$salt-${ctx.seed}")), lit(1000000L)).cast("double") / 1e6

  private def generate(s: SparkSession): DataFrame = {
    val e = when(col("_row") < hotRows, lit(0L))
      .otherwise(lit(1L - hotRows) + col("_row"))
    s.range(0, nRows, 1, 8).select(col("id").as("_row"))
      .withColumn("order_id", e)
      .withColumn("alt_id",
        when(pmod(col("order_id"), lit(1000L)) === 0, col("order_id") + 1)
          .otherwise(lit(entities * 10) + col("order_id")))
      .withColumn("region", concat(lit("r"), pmod(col("order_id"), lit(50L)).cast("string")))
      .withColumn("seq", (col("order_id") / 50).cast("long"))
      .withColumn("code", col("order_id") * 7)
      .withColumn("amount",
        when(u("amount") < failRate, lit(-1.0)).otherwise(pmod(col("order_id"), lit(1000L)) + 0.5))
      .withColumn("qty",
        when(u("qty") < failRate, lit(500L)).otherwise(pmod(col("order_id"), lit(100L))))
  }

  def prepare(s: SparkSession): Unit = {
    val gen = generate(s)
    val tag = Inputs.tag(ctx.seed, gen, s"rows=$nRows hot=$hotShare fail=$failRate")
    Inputs.cached(dir, tag)(_ => gen.write.mode("overwrite").parquet(path))
  }

  def open(s: SparkSession, t: Tracer): Unit = {
    spark = s; tr = t
    validator = new Validator(t.span("schema.load")(CompiledSchema.load(KyeHotkey.Model)),
      ValidatorConfig())
    data = s.read.parquet(path)
  }

  /** Forces both outputs of one validation; returns its signature. */
  private def run(df: DataFrame): Map[String, Long] = {
    val res = tr.span("validate.call")(validator.validate("Order", df))
    try {
      val v = tr.span("validate.violations")(
        res.violations.groupBy("err", "col").count().collect())
        .map(r => s"${r.getString(0)}.${r.getString(1)}" -> r.getLong(2)).toMap
      val n = tr.span("validate.survivors")(res.survivors.map(_.count()).getOrElse(-1L))
      v + ("survivors" -> n)
    } finally res.cleanup()
  }

  /** First call: `validate()` on a slice without the hot entity, which
    * runs its eager guard actions and cache builds. */
  def warm(): Unit =
    validator.validate("Order", data.filter(col("_row") >= nRows - 5000)).cleanup()

  /** Expected counts from how the table was built: assertion failures are
    * the rows whose stored amount / qty break the bound; IndexConflict
    * pairs are entities e (e % 1000 == 0) and e + 1 when both keep at
    * least one row past the assertions, and report every surviving row on
    * both key edges. */
  def expect(): Seq[String] = {
    want = recount()
    Seq("AssertionFailed.amount", "AssertionFailed.qty", "IndexConflict.order_id")
      .filterNot(want.contains).map(k => s"expected $k violations, the input has none")
  }

  private def recount(): Map[String, Long] = {
    val agg = data.agg(
      sum(when(col("amount") < 0, 1L).otherwise(0L)),
      sum(when(col("qty") > 100, 1L).otherwise(0L))).collect()(0)
    val perEntity = data.filter(col("amount") >= 0 && col("qty") <= 100)
      .groupBy("order_id").agg(count(lit(1)).as("n"))
    val pairs = perEntity.filter(pmod(col("order_id"), lit(1000L)) === 0).as("a")
      .join(perEntity.as("b"), col("b.order_id") === col("a.order_id") + 1)
      .agg(count(lit(1)), sum(col("a.n") + col("b.n"))).collect()(0)
    val conflictRows = if (pairs.isNullAt(1)) 0L else pairs.getLong(1)
    val survivors = perEntity.count() - 2 * pairs.getLong(0)
    Map(
      "AssertionFailed.amount" -> agg.getLong(0),
      "AssertionFailed.qty" -> agg.getLong(1),
      "IndexConflict.order_id" -> conflictRows,
      "IndexConflict.alt_id" -> conflictRows,
      "survivors" -> survivors).filter(_._2 != 0)
  }

  def op(): OpResult = {
    val t0 = System.nanoTime()
    val got = run(data)
    val dt = (System.nanoTime() - t0) / 1e9
    OpResult(dt, nRows, 1, if (Check.diff(name, got, want).isEmpty) 0 else 1)
  }

  /** Driver-side schema load and assertion compile, timed on their own. */
  override def layerPass(): Map[String, Double] = {
    val t0 = System.nanoTime()
    val schema = tr.span("schema.load")(CompiledSchema.load(KyeHotkey.Model))
    val t1 = System.nanoTime()
    tr.span("expr.compile")(schema.models("Order").assertions.foreach { a =>
      graft.expr.ExprCompiler.compileWithTag(a.expr, nanAbsent = true)
    })
    val t2 = System.nanoTime()
    Map("schema.load_s" -> (t1 - t0) / 1e9, "expr.compile_s" -> (t2 - t1) / 1e9)
  }
}

object KyeHotkey {
  val Model: String =
    """{"models": {"Order": {
      |  "indexes": ["order_id", "alt_id", ["region", "seq"]],
      |  "edges": {
      |    "order_id": {"type": "Number"},
      |    "alt_id": {"type": "Number"},
      |    "region": {"type": "String"},
      |    "seq": {"type": "Number"},
      |    "code": {"type": "String"},
      |    "amount": {"type": "Number"},
      |    "qty": {"type": "Number"}
      |  },
      |  "assertions": [
      |    {"msg": "amount >= 0", "expr": [{"col": "amount"}, {"ge": 0}]},
      |    {"msg": "qty <= 100", "expr": [{"col": "qty"}, {"le": 100}]}
      |  ]}}}""".stripMargin
}
