package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType

import graft.SparkEntry
import graft.core.GraftSession

/** JVM half of the benchmark; `perfbench/run.py` launches it and turns the
  * raw timings it writes into metrics.
  *
  * It drives the engine only through `SparkEntry.defs(name).production`
  * and a `noop` write, on the shipped [[GraftSession]] profile with local
  * sizing, as one closed-loop client: queries run one after another in an
  * order drawn from the seed.
  *
  *  - setup, `--setups` times: a fresh SparkContext and session on the
  *    profile (the previous one is stopped first), the profile check, and
  *    the workload's first query at the warm-up scale. Each is timed.
  *  - timed: `--passes` passes over the workload at the measured scale,
  *    each in a new seeded order. Per query, `build` is the
  *    `production(...)` call and `materialize` the `noop` write, which
  *    also computes the row count and content digest through
  *    `Dataset.observe`, so the query runs once.
  *  - outside the timed window: `clearCache` after each query; before the
  *    first pass and after each one, a full GC, a wait for Spark's
  *    ContextCleaner to go quiet, and (after a pass) a heap reading.
  *
  * With `--trace 1` a [[Ledger]] listens during the timed window only.
  *
  * `--mode record` instead writes each query's gated output as parquet
  * (plus `oracle_sql.json`) for `tools/check_oracle.py`, with the digest
  * of what was written, so goldens come from oracle-confirmed outputs.
  */
object PerfBench {

  val workloads: Map[String, Seq[String]] = Map(
    "relational" -> Seq(
      "q01_agg_pricing", "q02_filter_project", "q03_join_topk",
      "q04_dedup_rank", "q05_setops", "q06_rollup", "q07_semi_anti",
      "q08_json_extract", "q09_window_running", "q10_distinct",
      "q11_cte_above_avg", "q12_grouping_sets", "q13_star_join",
      "q14_case_agg", "q15_time_bucket", "q16_asof_join", "q17_quantiles",
      "q18_count_distinct", "q19_pivot", "q20_unpivot", "q21_sessionize"),
    "pipeline" -> Seq(
      "p01_pipeline_agg", "p02_pipeline_loop", "p03_pipeline_fn_dates",
      "p04_pipeline_qualify", "p05_pipeline_variable", "p06_pipeline_dedup",
      "p07_pipeline_control", "p08_pipeline_csv", "p09_pipeline_json",
      "p10_pipeline_sqlgen", "p11_pipeline_orc", "p12_pipeline_curation",
      "p14_pipeline_rest", "p15_pipeline_delta_optimize",
      "p16_pipeline_parallel_loop", "p25_pipeline_streaming_decon_bloom"),
    "iterative" -> Seq(
      "t15_dedup_components", "t42_neardup_funnel", "t81_cluster_safe_split",
      "t89_cluster_canonical", "t87_bpe_trainer", "t92_dup_pagerank"))

  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    def get(k: String, d: String): String = kv.getOrElse(k, d)
  }

  def main(args: Array[String]): Unit = {
    val o = Opts(args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case a => throw new IllegalArgumentException(s"bad argument ${a.mkString(" ")}")
    }.toMap)
    val cores = o("cores").toInt
    val localSizing = Map(
      "spark.sql.shuffle.partitions" -> cores.toString,
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum" -> cores.toString)
    def open(): SparkSession = {
      val s = localSizing.foldLeft(
          GraftSession.builder("perfbench")
            .master(s"local[$cores]")
            .config("spark.ui.enabled", "false")
            .config("spark.local.dir", o("local-dir"))) {
          case (b, (k, v)) => b.config(k, v)
        }.getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }
    val out =
      if (o.get("mode", "bench") == "record") {
        val s = open()
        try record(s, o) finally s.stop()
      } else bench(() => open(), o, cores, localSizing)
    Files.write(Paths.get(o("out")), out.getBytes(UTF_8))
  }

  /** The shipped profile, apart from local sizing, or an error. */
  def effectiveConfs(spark: SparkSession, localSizing: Map[String, String]): Seq[(String, String)] = {
    GraftSession.confs.foreach { case (k, v) =>
      val want = localSizing.getOrElse(k, v)
      require(spark.conf.get(k) == want,
        s"benchmark session drifted from the shipped profile: $k = " +
          s"${spark.conf.get(k)}, profile wants $want")
    }
    (GraftSession.confs.map(_._1) ++ localSizing.keys).distinct.sorted
      .map(k => k -> spark.conf.get(k))
  }

  /** Row count and order-insensitive content digest of a frame's rows. */
  def digestOf(df: DataFrame): Seq[Column] = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    Seq(count(lit(1)).as("rows"),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
  }

  /** `rows:lo:hi:schema` once the observed write has finished. */
  def digestString(df: DataFrame, ob: Observation): String = {
    val r = ob.get
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    f"${r("rows")}%s:${r("lo")}%s:${r("hi")}%s:${schema.hashCode}%08x"
  }

  private def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${q(k)}:$v" }.mkString("{", ",", "}")
  private def arr(vs: Seq[String]): String = vs.mkString("[", ",", "]")

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final case class Exec(name: String, pass: Int, ok: Boolean, digest: String,
      error: String, wallS: Double, buildS: Double, materializeS: Double,
      window: Ledger.Window)

  /** One query through the public entry point, timed; never throws. */
  def runQuery(spark: SparkSession, name: String, dir: String, pass: Int,
      group: String): Exec = {
    spark.sparkContext.setJobGroup(group, s"perfbench $name pass $pass")
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    var buildS = 0.0
    var result = Exec(name, pass, ok = false, "", "", 0, 0, 0, null)
    try {
      val df = SparkEntry.defs(name).production(spark, dir)
      buildS = secs(t0)
      val t1 = System.nanoTime()
      val ob = Observation(s"digest_$group")
      val dg = digestOf(df)
      df.observe(ob, dg.head, dg.tail: _*)
        .write.format("noop").mode("overwrite").save()
      val digest = digestString(df, ob)
      val matS = secs(t1)
      result = result.copy(ok = true, digest = digest, buildS = buildS,
        materializeS = matS)
    } catch {
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        result = result.copy(error = msg.linesIterator.take(3).mkString(" | "),
          buildS = buildS)
    } finally spark.sparkContext.clearJobGroup()
    val wall = secs(t0)
    result.copy(wallS = wall, window = Ledger.Window(group, name, pass,
      startMs, System.currentTimeMillis(), wall, result.buildS,
      result.materializeS))
  }

  def bench(open: () => SparkSession, o: Opts, cores: Int,
      localSizing: Map[String, String]): String = {
    val names = workloads(o("workload"))
    val rng = new scala.util.Random(o("seed").toLong)
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    var peakHeap = 0L

    // setup, several times: a fresh SparkContext and session on the
    // shipped profile, then the workload's first query at warm-up scale
    var session: SparkSession = null
    val setups = (1 to o("setups").toInt).map { i =>
      if (session != null) session.stop()
      val t0 = System.nanoTime()
      session = open()
      effectiveConfs(session, localSizing)
      runQuery(session, names.head, o("warm"), -i, s"warm-$i")
      session.catalog.clearCache()
      secs(t0)
    }
    val confs = effectiveConfs(session, localSizing) :+
      ("spark.master" -> session.sparkContext.master)

    org.apache.spark.PerfBenchBus.settle(session.sparkContext)
    val ledger = if (o("trace") == "1") Some(new Ledger) else None
    ledger.foreach { l =>
      org.apache.spark.PerfBenchBus.drain(session.sparkContext)
      session.sparkContext.addSparkListener(l)
      session.listenerManager.register(l)
    }
    val execs = (0 until o("passes").toInt).flatMap { p =>
      val pass = rng.shuffle(names).map { n =>
        val e = runQuery(session, n, o("data"), p, s"q-$p-$n")
        session.catalog.clearCache() // untimed
        e
      }
      // untimed: the heap the pass kept once Spark cleaned up after it
      org.apache.spark.PerfBenchBus.settle(session.sparkContext)
      peakHeap = math.max(peakHeap, mem.getHeapMemoryUsage.getUsed)
      pass
    }

    val layers = ledger.map { l =>
      org.apache.spark.PerfBenchBus.drain(session.sparkContext)
      session.sparkContext.removeSparkListener(l)
      session.listenerManager.unregister(l)
      val (totals, spans) = l.layers(execs.map(_.window), cores)
      writeSpans(o("spans"), spans)
      totals
    }

    session.stop()
    obj(Seq(
      "workload" -> q(o("workload")),
      "cores" -> cores.toString,
      "confs" -> obj(confs.map { case (k, v) => k -> q(v) }),
      "setup_s" -> arr(setups.map(num)),
      "passes" -> o("passes"),
      "peak_heap_mb" -> num(peakHeap / (1024.0 * 1024.0)),
      "execs" -> arr(execs.map(e => obj(Seq(
        "name" -> q(e.name), "pass" -> e.pass.toString, "ok" -> e.ok.toString,
        "digest" -> q(e.digest), "error" -> q(e.error),
        "wall_s" -> num(e.wallS), "build_s" -> num(e.buildS),
        "materialize_s" -> num(e.materializeS))))),
      "layers" -> layers.map(m => obj(m.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> num(v) })).getOrElse("null")))
  }

  def writeSpans(path: String, spans: Seq[Ledger.Span]): Unit = {
    val lines = spans.sortBy(_.startMs).map { s =>
      obj(Seq("id" -> q(s.id), "parent" -> q(s.parent), "kind" -> q(s.kind),
        "name" -> q(s.name), "start_ms" -> s.startMs.toString,
        "end_ms" -> s.endMs.toString,
        "attrs" -> obj(s.attrs.toSeq.map { case (k, v) => k -> q(v) })))
    }
    Files.write(Paths.get(path), (lines.mkString("\n") + "\n").getBytes(UTF_8))
  }

  def record(spark: SparkSession, o: Opts): String = {
    val names = workloads.values.flatten.toSeq.sorted
    val dir = o("data")
    val dump = o("record-dir")
    val rows = names.map { n =>
      val d = SparkEntry.defs(n)
      val df = d.gated(spark, dir)
      val ob = Observation(s"record_$n")
      val dg = digestOf(df)
      df.observe(ob, dg.head, dg.tail: _*)
        .coalesce(1).write.mode("overwrite").parquet(s"$dump/$n")
      val digest = digestString(df, ob)
      spark.catalog.clearCache()
      n -> q(digest)
    }
    val oracle = obj(names.flatMap(n => SparkEntry.oracleSql.get(n).map(n -> q(_))))
    Files.write(Paths.get(s"$dump/oracle_sql.json"), oracle.getBytes(UTF_8))
    obj(rows)
  }
}
