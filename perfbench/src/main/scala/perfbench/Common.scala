package perfbench

import java.nio.file.{Files, Path}
import java.util.Comparator
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One closed-loop operation: its timed wall, the input rows it validated,
  * how many operations (suite calls, partitions, micro-batches) it counts
  * as, how many of those produced a wrong output, plus extra per-operation
  * figures and per-item samples (partition or micro-batch wall times). */
final case class OpResult(seconds: Double, rows: Long, attempted: Int, failed: Int,
                          extra: Map[String, Double] = Map.empty,
                          samples: Map[String, Seq[Double]] = Map.empty)

/** Benchmark settings shared by every workload. */
final case class Ctx(seed: Long, cores: Int, smoke: Boolean, work: Path) {
  /** The seeded input named `label`; the cache tag it was made under is
    * kept inside it (see [[Inputs]]). */
  def inputDir(label: String): Path =
    work.resolve("data").resolve(s"$label${if (smoke) "-smoke" else ""}-seed$seed")
  /** Per-operation scratch output (manifests, sinks, checkpoints). */
  def scratch: Path = work.resolve("scratch")
}

trait Workload {
  def name: String
  /** Generates the seeded inputs, or reuses a cached copy whose tag still
    * matches. Runs in a JVM of its own before the measured one, so neither
    * its time nor its JIT warm-up reaches any metric. */
  def prepare(spark: SparkSession): Unit
  /** Session-bound set-up: loads schemas, baselines and sources. Part of
    * `setup_s`. */
  def open(spark: SparkSession, tr: Tracer): Unit
  /** The first call, on a small slice of the input. Part of `setup_s`. */
  def warm(): Unit
  /** Independent recount of the outputs every operation must produce, by
    * plain DataFrame aggregations that never call a validator. Runs after
    * set-up, untimed. Returns structural failures (e.g. an injected error
    * kind that the generator failed to produce). */
  def expect(): Seq[String]
  /** Fewest operations one measured run makes; rows_per_s is their rows
    * over their summed time. Calls keep speeding up for several calls
    * after set-up (on a 4-core host a full `table_suite` call runs ~3.5x,
    * ~2x, ~1.5x slower than its steady ~2 s, and steadies after about
    * seven). Across runs the first two vary least (interquartile range of
    * their summed time about 11% of its median, of the third call alone
    * about 30%), and they are what a user who runs a call or two per
    * process pays. */
  def minOps: Int = 2
  /** One operation, checked against [[expect]]. */
  def op(): OpResult
  /** Per-layer timings measured on their own (traced run only). */
  def layerPass(): Map[String, Double] = Map.empty
  /** Workloads of which the traced run also records one operation, for
    * the layers this workload's own operations never call. */
  def legs: Seq[Workload] = Nil
}

object Session {
  /** The process's Spark context, built the way the CLI builds its
    * session: local[cores], shuffle partitions = cores, UTC, UI off.
    * Spark's scratch space stays inside the benchmark's work directory. */
  def build(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** [[build]] with [[graft.Tuning]] applied once, as the CLI does after
    * building its session. */
  def tuned(cores: Int, work: Path): SparkSession = {
    val s = build(cores, work)
    graft.Tuning(s)
    s
  }
}

object Inputs {
  /** Cache tag of a generated input: seed, generator version, the
    * canonical plan digest of the generating query and the digest of its
    * configuration. Any change to one regenerates. */
  def tag(seed: Long, plan: DataFrame, cfg: String): String = {
    val planDigest = graft.io.Digests.sha8(plan.queryExecution.analyzed.canonicalized.toString)
    graft.io.Digests.sha8(
      s"seed=$seed gen=v${graft.gen.TranscriptGen.GenVersion}-$planDigest " +
        s"cfg=${graft.io.Digests.sha8(cfg)}")
  }

  /** Runs `gen` into a fresh `dir` unless `dir` already holds inputs made
    * under `tag`. The tag file is written last, so an interrupted
    * generation is redone. */
  def cached(dir: Path, tag: String)(gen: Path => Unit): Unit = {
    val marker = dir.resolve("TAG")
    val hit = Files.exists(marker) && Files.readString(marker).trim == tag
    if (!hit) {
      deleteTree(dir)
      Files.createDirectories(dir)
      gen(dir)
      Files.writeString(marker, tag)
    }
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
      finally s.close()
    }
}

/** Compares an operation's output signature with the recount. */
object Check {
  @volatile private var reported = 0

  /** Names of the keys whose values differ; the first few mismatches of a
    * run are printed to stderr. */
  def diff(what: String, got: Map[String, Long], want: Map[String, Long]): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).toSeq.sorted.filter(k => got.get(k) != want.get(k))
    if (bad.nonEmpty && reported < 5) {
      reported += 1
      System.err.println(s"[perfbench] $what output mismatch: " + bad.take(8).map(k =>
        s"$k got=${got.get(k).fold("-")(_.toString)} want=${want.get(k).fold("-")(_.toString)}")
        .mkString(", "))
    }
    bad
  }
}
