package graft

import org.apache.spark.sql.SparkSession

/** Engine-wide session tuning (guide §2/§3/§9), applied by every query
  * entry point. All values are env-overridable; the defaults are the
  * production-honest settings, not local-mode specials:
  *
  *  - `canChangeCachedPlanOutputPartitioning=true`: apply AQE partition
  *    coalescing to InMemoryRelation materialization too. The validator
  *    and dedup pipelines persist intermediates by design (multiple
  *    consumers, guide §5); without this flag every cache-build stage
  *    runs at the raw `spark.sql.shuffle.partitions` width regardless of
  *    data size.
  *  - `preferSortMergeJoin=false`: let the planner pick shuffled-hash
  *    joins when its size conditions hold (guide §3.1/§9) — skips two
  *    sorts per join; sort-merge remains the fallback when the build
  *    side is too large.
  *
  * Settings are applied through `spark.conf.set` (runtime-mutable SQL
  * confs), so they take effect for every query planned afterwards in the
  * session — including the frozen Bench/Verify harness sessions, whose
  * builder-time config this deliberately does not touch.
  */
object Tuning {
  private def env(name: String, default: String): String =
    sys.env.getOrElse(name, default)

  def apply(spark: SparkSession): Unit = {
    val c = spark.conf
    // parallelismFirst deliberately stays at Spark's default (true): with
    // it, AQE's coalescing target is max(totalShuffleBytes/parallelism,
    // minPartitionSize=1MB) — sub-MB shuffles still collapse to a few
    // tasks, while mid-size data keeps every core busy. Overriding it to
    // `false` (the 64MB-advisory configuration) was measured here to
    // serialize real work once data outgrew the advisory: the full suite
    // read 87.6s at sf1 vs 56.6s with the size-adaptive default — a
    // local-tiny-data "win" that does not survive one data decade.
    c.set("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
      env("SPARK_GRAFT_AQE_CACHED_PLAN", "true"))
    c.set("spark.sql.join.preferSortMergeJoin",
      env("SPARK_GRAFT_PREFER_SMJ", "false"))
    // NOTE deliberately NOT set: spark.sql.leafNodeDefaultParallelism.
    // Lowering it to 1 stopped literal relations from fanning 32 rows
    // over 32 tasks, but it also feeds spark.sql.files.minPartitionNum —
    // at sf1 every parquet scan collapsed to one split and the native
    // kernels serialized (q_ann_lsh 5.1s vs 3.2s, q_dedup_minhash 5.5
    // vs 4.3). Literal relations pass explicit slice counts at their
    // construction sites instead (MultilingualSlice.df, fixture ranges).
    // ConvertToLocalRelation janino-compiles a projection to pre-evaluate
    // literal relations at OPTIMIZE time — ~600 ms of driver compile per
    // fold to save executing a handful of local rows that the runtime
    // stage (already being compiled anyway) evaluates for free. The fold
    // buys nothing at any scale: local relations are by construction tiny
    // (driver-held literals), while the compile cost is pure per-query
    // driver latency (measured 1.2 s of q_fingerprint_groups' 1.5 s build,
    // RuleExecutor metrics in OPTIMIZATION_r07.md).
    // Unioned into whatever the session already excludes, so a host
    // session's own exclusions survive and repeated calls add nothing.
    val excluded = "spark.sql.optimizer.excludedRules"
    def rules(v: String): Seq[String] = v.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val ours = rules(env("SPARK_GRAFT_EXCLUDED_RULES",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation"))
    c.set(excluded, (c.getOption(excluded).toSeq.flatMap(rules) ++ ours).distinct.mkString(","))
  }
}
