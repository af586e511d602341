package graft

class TuningSpec extends SparkSuite {

  private val excluded = "spark.sql.optimizer.excludedRules"
  private val convert = "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"

  test("Tuning unions its excluded rule into the session's, once per rule") {
    val shared = spark.conf.getOption(excluded)
    val s = spark.newSession()
    val pre = "org.apache.spark.sql.catalyst.optimizer.CollapseProject"
    s.conf.set(excluded, pre)
    Tuning(s)
    Tuning(s)
    assert(s.conf.get(excluded).split(",").toSeq == Seq(pre, convert))
    assert(spark.conf.getOption(excluded) == shared, "shared test session must be untouched")
  }
}
