package graft.validate

import graft.{SparkSuite, Tuning}
import graft.PlanShapes.shuffles
import graft.schema.CompiledSchema
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{Column, DataFrame, GraftExpressionBridge, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** Pins what a `Validator` refactor must not change: the shuffle count of
  * the violations and survivors plans for the Kye query shapes, and the
  * number of Spark jobs one `validate()` call runs before it returns (the
  * empty-abort probes, the S3 cast aggregate and the parity fired-flags
  * aggregate). Runs on its own session with the engine's [[Tuning]], so
  * the shared test session's conf is untouched. */
class ValidatorPlanShapeSpec extends SparkSuite {

  private def tunedSession(): SparkSession = {
    val s = spark.newSession()
    Tuning(s)
    s
  }

  /** Jobs are counted under the engine's settings with adaptive execution
    * off: with it on, which query stages AQE submits depends on which
    * finish first, and a call's job count varies by one between runs. */
  private lazy val session: SparkSession = {
    val s = tunedSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s
  }

  /** Shuffles are counted with broadcast joins off: at scale no join side
    * fits the broadcast threshold, and a tiny fixture would otherwise hide
    * every join exchange behind a broadcast. */
  private lazy val scaleSession: SparkSession = {
    val s = tunedSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s
  }

  /** Events-shaped parquet fixture: event_id 0..1999, five event types,
    * value in [0, 400) so `value <= 300` fails about a quarter of rows. */
  private lazy val eventsPath: String = {
    val dir = Files.createTempDirectory("validator-shape").resolve("events.parquet").toString
    session.range(0, 2000, 1, 4).select(
      col("id").as("event_id"),
      element_at(array(lit("click"), lit("view"), lit("signup"), lit("purchase"), lit("error")),
        (col("id") % 5 + 1).cast("int")).as("event_type"),
      ((col("id") * 37) % 400).cast("double").as("value"))
      .write.parquet(dir)
    dir
  }

  private lazy val events: DataFrame = session.read.parquet(eventsPath)
  private lazy val scaleEvents: DataFrame = scaleSession.read.parquet(eventsPath)

  private def validator(json: String, cfg: ValidatorConfig): Validator =
    new Validator(CompiledSchema.load(json), cfg)

  // ---- (a) shuffle counts of the q_assert_* / q_kye_* shapes --------------

  private val scan = ValidatorConfig(abortOnEmpty = false)

  /** Shuffles of each plan as planned and as finally executed by AQE
    * (which drops join legs that turn out empty at run time):
    * (violations planned, violations executed, survivors planned,
    * survivors executed). */
  private def shapeShuffles(r: ValidationResult,
                            violations: DataFrame => DataFrame): (Int, Int, Int, Int) =
    try {
      val v = violations(r.violations)
      val s = r.survivors.get
      val (vPlanned, sPlanned) = (shuffles(v), shuffles(s))
      v.collect()
      s.collect()
      (vPlanned, shuffles(v), sPlanned, shuffles(s))
    } finally r.cleanup()

  private def errRows(err: String)(v: DataFrame): DataFrame =
    v.filter(col("err") === err)
      .select(col("err"), col("row").as("row_id"), col("col").as("col_name"))

  test("q_assert_violations shape: violations/survivors shuffle counts") {
    val r = validator(
      """{"models": {"Event": {"index": "event_id", "edges": {
        |  "event_id": {"type": "Number"}, "event_type": {"type": "String"},
        |  "value": {"type": "Number"}},
        |  "assertions": [{"msg": "value <= 300", "expr": [{"col": "value"}, {"le": 300}]}]
        |}}}""".stripMargin, scan)
      .validate("Event", scaleEvents.withColumn("_row", col("event_id")))
    val got = shapeShuffles(r,
      _.select(col("err"), col("row").as("row_id"), col("col").as("col_name")))
    assert(got == ((2, 0, 0, 0)), s"shuffles: $got")
  }

  test("q_kye_typecheck_cast shape: violations/survivors shuffle counts") {
    val r = validator(
      """{"models": {"Event": {"index": "event_id", "edges": {
        |  "event_id": {"type": "Number"}, "value": {"type": "String"}}}}}""".stripMargin, scan)
      .validate("Event",
        scaleEvents.select(col("event_id"), col("value")).withColumn("_row", col("event_id")))
    val got = shapeShuffles(r, identity)
    assert(got == ((2, 0, 0, 0)), s"shuffles: $got")
  }

  test("q_kye_survivors shape: violations/survivors shuffle counts") {
    val r = validator(
      """{"models": {"Event": {"index": "event_id", "edges": {
        |  "event_id": {"type": "Number"}, "event_type": {"type": "String"}}}}}""".stripMargin,
      scan)
      .validate("Event",
        scaleEvents.select(col("event_id"), col("event_type")).withColumn("_row", col("event_id")))
    val got = shapeShuffles(r, identity)
    assert(got == ((2, 0, 0, 0)), s"shuffles: $got")
  }

  test("q_kye_subindex shape: violations/survivors shuffle counts") {
    val r = validator(
      """{"models": {"Event": {"indexes": ["event_id", "dup_key"], "edges": {
        |  "event_id": {"type": "Number"}, "dup_key": {"type": "Number"}}}}}""".stripMargin,
      scan)
      .validate("Event",
        scaleEvents.select(col("event_id"), (col("event_id") % 500).as("dup_key"))
          .withColumn("_row", col("event_id")))
    val got = shapeShuffles(r, errRows("NonUniqueSubIndex"))
    assert(got == ((4, 4, 4, 0)), s"shuffles: $got")
  }

  test("q_kye_index_conflict shape: violations/survivors shuffle counts") {
    val r = validator(
      """{"models": {"Event": {"indexes": ["k1", "k2"], "edges": {
        |  "k1": {"type": "Number"}, "k2": {"type": "Number"}}}}}""".stripMargin, scan)
      .validate("Event", scaleEvents.select(
        col("event_id").as("k1"), (col("event_id") + 1).as("k2"), col("event_id").as("_row")))
    val got = shapeShuffles(r, errRows("IndexConflict"))
    assert(got == ((4, 4, 4, 4)), s"shuffles: $got")
  }

  // ---- (b) jobs one validate() call runs before it returns ----------------

  private val tagKey = "graft.test.validatorPlanShape"

  private final class JobCounter(tag: String) extends SparkListener {
    val jobs = new AtomicInteger
    override def onJobStart(js: SparkListenerJobStart): Unit =
      if (js.properties != null && js.properties.getProperty(tagKey) == tag) jobs.incrementAndGet()
  }

  /** Jobs started by `body` on this thread (tagged through a local
    * property, so jobs of anything else sharing the context don't count). */
  private def jobsDuring[T](tag: String)(body: => T): (Int, T) = {
    val sc = session.sparkContext
    val counter = new JobCounter(tag)
    GraftExpressionBridge.drainListenerBus(session)
    sc.addSparkListener(counter)
    sc.setLocalProperty(tagKey, tag)
    try {
      val out = body
      GraftExpressionBridge.drainListenerBus(session)
      (counter.jobs.get, out)
    } finally {
      sc.setLocalProperty(tagKey, null)
      sc.removeSparkListener(counter)
    }
  }

  /** Two candidate keys (S5 + S7), a Number -> String cast (S3) and a
    * single-edge assertion (S4, so parity mode runs its fired-flags job). */
  private val allStages =
    """{"models": {"Rec": {"indexes": ["id", "alt"], "edges": {
      |  "id": {"type": "Number"}, "alt": {"type": "Number"},
      |  "label": {"type": "String"}, "score": {"type": "Number"}},
      |  "assertions": [{"msg": "score <= 300", "expr": [{"col": "score"}, {"le": 300}]}]
      |}}}""".stripMargin

  private val modes = Seq(
    "default" -> ValidatorConfig(),
    "parity" -> ValidatorConfig(strictReferenceParity = true),
    "no-abort" -> ValidatorConfig(abortOnEmpty = false))

  /** (jobs, aborted) per mode for one fixture. */
  private def jobCounts(fixture: String, input: DataFrame): Map[String, (Int, Boolean)] =
    modes.map { case (mode, cfg) =>
      val (n, r) = jobsDuring(s"$fixture/$mode")(
        validator(allStages, cfg).validate("Rec", input))
      r.cleanup()
      mode -> (n, r.survivors.isEmpty)
    }.toMap

  private def rec(alt: Column, score: Column): DataFrame =
    events.select(col("event_id").as("id"), alt.as("alt"), col("value").as("label"),
      score.as("score"), col("event_id").as("_row"))

  test("validate() job count: violations at S3 cast, S4, S5 and S7, survivors left") {
    val id = col("event_id")
    // alt repeats for id%100 in {0,1} (S5) and points at the next row's id
    // for id%100 == 7 (S7); a quarter of scores fail the assertion (S4)
    val alt = when(id % 100 === 1, id - 1 + 10000)
      .when(id % 100 === 7, id + 1).otherwise(id + 10000)
    val got = jobCounts("stages", rec(alt, col("value")))
    assert(got == Map("default" -> ((10, false)), "parity" -> ((11, false)),
      "no-abort" -> ((1, false))), s"(jobs, aborted): $got")
  }

  test("validate() job count: clean table with an extra column") {
    val got = jobCounts("clean",
      rec(col("event_id") + 10000, col("value") % 300).withColumn("extra", lit(1)))
    assert(got == Map("default" -> ((10, false)), "parity" -> ((10, false)),
      "no-abort" -> ((1, false))), s"(jobs, aborted): $got")
  }

  test("validate() job count: every row fails the assertion (S4 abort)") {
    val got = jobCounts("s4-empty", rec(col("event_id") + 10000, lit(500.0)))
    assert(got == Map("default" -> ((3, true)), "parity" -> ((4, true)),
      "no-abort" -> ((1, false))), s"(jobs, aborted): $got")
  }

  test("validate() job count: every row conflicts across keys (S7 abort)") {
    val got = jobCounts("s7-empty", rec(col("event_id") + 1, col("value") % 300))
    assert(got == Map("default" -> ((10, true)), "parity" -> ((11, true)),
      "no-abort" -> ((1, false))), s"(jobs, aborted): $got")
  }

  test("validate() job count: zero-row table with an extra column") {
    val got = jobCounts("zero-rows",
      rec(col("event_id") + 10000, col("value")).withColumn("extra", lit(1)).filter(lit(false)))
    assert(got == Map("default" -> ((2, true)), "parity" -> ((0, true)),
      "no-abort" -> ((1, false))), s"(jobs, aborted): $got")
  }
}
