package graft.core

import org.apache.spark.sql.SparkSession

/** Production SparkSession profile for graft pipelines.
  *
  * The query layer is declarative (DataFrame + Catalyst), so almost all
  * cluster tuning reduces to a handful of session confs; this factory
  * centralizes the ones that matter at the 100 TB scale the operators
  * are shaped for, with the reasoning attached. Everything here is a
  * DEFAULT — callers override any conf after `builder()` and the last
  * setting wins.
  *
  *  - AQE on, with partition coalescing and skew-join splitting: the
  *    plans in `queries/` shuffle on data-dependent keys (band buckets,
  *    cluster ids, users); runtime re-planning right-sizes reducer
  *    counts per stage and splits hot partitions without manual salting
  *    (the explicit salted-join operator stays available for keys AQE
  *    can't see, e.g. pre-aggregation hot keys).
  *  - `initialPartitionNum` is set HIGH (4× a typical executor-core
  *    count) instead of pinning `spark.sql.shuffle.partitions`: AQE
  *    coalesces down cheaply, but can never split an under-partitioned
  *    stage that already spilled. [[local]] sessions (Bench, Verify,
  *    the kept tools) pin both to the worker-thread count instead —
  *    correct for one JVM, wrong for a cluster.
  *  - 256 MiB scan partitions: at 100 TB the default 128 MiB doubles
  *    the task count for scan-heavy stages whose per-task overhead
  *    (footer reads, codegen setup) is already amortization-bound.
  *  - UTC session timezone: every timestamp recipe in the engine
  *    (strftime parity, sessionization µs math) is timezone-stable
  *    under UTC; a cluster inheriting a host zone silently shifts
  *    date_trunc buckets.
  *  - `codegen.hugeMethodLimit` at HotSpot's 8000-bytecode JIT compile
  *    threshold (Spark's default 65535 only guards Janino's hard
  *    64 KB limit): a whole-stage-codegen method past 8000 bytecodes
  *    never JIT-compiles and the whole stage runs INTERPRETED —
  *    measured at 20–70× on wide multi-kernel projections
  *    (AssignCellsLab, r16, in README "Lab record": 0.37 s at 32
  *    fused dot loops vs 13.2 s at 64, identical rows). With the limit at 8000, Spark falls back to
  *    per-operator codegen whose expression splitting keeps every
  *    method JIT-able. The engine's own hot paths avoid the cliff
  *    structurally (native kernels, broadcast-table forms), so this is
  *    protection for user-authored pipeline SQL.
  *  - A generated-class cache that holds the engine's working set, so a
  *    plan that runs again reuses its compiled classes. It is a static
  *    conf, set by [[builder]] only; see [[staticConfs]].
  */
object GraftSession {

  /** The profile as data — all runtime SQL confs, so they can also be
    * applied to an existing session (`spark.newSession()` + set), which
    * is how ClusterProfileSpec re-runs the suite's shuffle-heavy
    * queries under the production profile. */
  val confs: Seq[(String, String)] = Seq(
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> "1024",
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    // Broadcast only what is PROVEN or MEASURED, never guessed (r18
    // BroadcastAudit): the static planner sizes a broadcast from scan
    // statistics, and any explode/HOF between the scan and the build
    // side blinds the estimate by the fan-out factor — at the 30×
    // fixture the audit measured ~20 ops silently broadcasting
    // corpus-PROPORTIONAL frames (t45's band table at 600k rows, t22's
    // full vocabulary, t63's per-doc manifest at 147k …) because the
    // estimate never saw the explode. Locally that is a pointer hop;
    // on a cluster it is a driver ship that grows with the corpus —
    // the q03 forced-broadcast mistake (removed in r17), re-made by
    // stats. So the static threshold is OFF: joins the author KNOWS
    // are bounded carry an explicit broadcast() hint (1-row query
    // frames, ≤#langs threshold tables, capped centroid/eval sides —
    // hints ignore this threshold), and everything else is left to
    // AQE, whose conversion reads the MEASURED shuffle size at
    // runtime (set explicitly below — it falls back to the static
    // threshold, i.e. to "off", when unset). Measured sizes adapt
    // with the corpus by definition: small stays broadcast at any SF,
    // grown sides stay shuffled.
    "spark.sql.autoBroadcastJoinThreshold" -> "-1",
    "spark.sql.adaptive.autoBroadcastJoinThreshold" ->
      (10L * 1024 * 1024).toString,
    "spark.sql.files.maxPartitionBytes" -> (256L * 1024 * 1024).toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.codegen.hugeMethodLimit" -> "8000")

  /** Static confs of the profile: read once per JVM or per context, so
    * they can only be set on a builder, never by [[applyTo]] (setting a
    * static conf on a live session throws). Kept out of [[confs]] for
    * that reason; the test session applies them too, so the specs run
    * with the sizes that ship.
    *
    * `spark.sql.codegen.cache.maxEntries` sizes Spark's generated-class
    * cache (`CodeGenerator`'s LRU, keyed by context classloader and code
    * text). The cache is built once per JVM, by the first session that
    * compiles generated code, and a later session cannot resize it.
    * Spark's default of 100 is below one run's working set, so the LRU
    * evicted classes that the next query and the next pass needed, and
    * Janino compiled them again (and the JIT warmed them again). The
    * second pass of a perfbench run (seed 1, sf0.1) recompiled 158
    * classes on `iterative` and 198 on `pipeline`; at 4096 it compiles 4
    * and 15. Measured working set: a full `Verify` at sf0.01 (152
    * queries) with an unbounded cache compiles 2,070 entries (1,217
    * distinct code texts, under the driver's loader and each session's
    * executor loader), and Metaspace reads 258 MB at the end (244 MB at
    * the default size). 4096 is 2,070 rounded up to a power of two. */
  val staticConfs: Seq[(String, String)] = Seq(
    "spark.sql.codegen.cache.maxEntries" -> "4096")

  /** The profile plus the engine's SQL functions, installed at session
    * creation (so `newSession()` and foreachBatch clones inherit them).
    * The functions ride `withExtensions`, not `spark.sql.extensions`:
    * that conf is static, and [[applyTo]] on a live session would throw
    * on it. The [[staticConfs]] are set here for the same reason. */
  def builder(appName: String = "graft"): SparkSession.Builder =
    (staticConfs ++ confs).foldLeft(SparkSession.builder().appName(appName)
        .withExtensions(graft.functions.GraftFunctions.install)) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Worker threads of a local session: `SPARK_GRAFT_CPUS`, else every
    * core of the host. */
  lazy val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The only profile confs a local session changes: shuffle and initial
    * partitions = worker threads instead of the cluster's 1024. */
  lazy val localSizing: Map[String, String] = Map(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cpus.toString)

  /** The profile on `local[cpus]` with the UI off and [[localSizing]] —
    * the one session shape of Bench, Verify and the kept tools. */
  def local(appName: String): SparkSession.Builder =
    localSizing.foldLeft(builder(appName).master(s"local[$cpus]")
        .config("spark.ui.enabled", "false")) {
      case (b, (k, v)) => b.config(k, v)
    }

  /** Apply the profile to a session (runtime confs — every key above is
    * session-settable). */
  def applyTo(spark: SparkSession): SparkSession = {
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    spark
  }
}
