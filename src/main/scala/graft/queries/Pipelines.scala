package graft.queries

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.hadoop.util.ShutdownHookManager
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import graft.core.Flow

/** Engine-level coverage: each query runs a full YAML pipeline through
  * [[graft.core.Flow]] (render → tap → transform → sink → loop …) and
  * returns the flow's final relation, so the driver's DuckDB gate verifies
  * the *engine*, not just the DataFrame layer.
  *
  * Double aggregates inside pipeline SQL use the same fixed-point-long
  * accumulate-then-cast pattern as Relational (see its scaladoc).
  */
object Pipelines {

  private def run(spark: SparkSession, yaml: String): DataFrame =
    Flow.runYaml(spark, yaml).df()

  /** One root for every p* fixture and sink directory, deleted when the
    * JVM exits — not sooner: the returned frames read these files
    * lazily. The hook runs after SparkContext's stop (priority 50), with
    * Spark's own temp dirs (25). */
  private lazy val scratchRoot: Path = {
    val root = Files.createTempDirectory("graft_pipelines")
    ShutdownHookManager.get().addShutdownHook(
      () => FileUtils.deleteQuietly(root.toFile), 25)
    root
  }

  /** A fresh directory under [[scratchRoot]]. */
  private def scratchDir(prefix: String): Path =
    Files.createTempDirectory(scratchRoot, prefix)

  /** Runs `body` at 4 shuffle (so state-store) partitions and restores
    * the caller's `spark.sql.shuffle.partitions` after, even when `body`
    * throws. A stateful operator commits one state-store delta file per
    * partition per micro-batch (9 batches × 32 partitions was ~300 state
    * commits for a fixture-sized key space), and the gates' semantics
    * (per-key state crossing batches) do not depend on the partition
    * count; a production cluster sizes it to cores through GraftSession.
    * The count is baked into a stream's checkpoint at its first batch,
    * so it only needs to hold while the gate's streams run. */
  private[graft] def withStatePartitions[T](spark: SparkSession)(body: => T): T = {
    val caller = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    try body finally spark.conf.set("spark.sql.shuffle.partitions", caller)
  }

  /** A streaming gate's fixture replay (p20, p22–p25). `chunked` is a
    * batch fixture whose `__c` column numbers each row's chunk, 1 to
    * `chunks`; one partitioned write splits it into chunk files. [[land]]
    * moves a chunk into `in/`, and [[stream]] reads `in/` one file per
    * trigger, so the landed chunks replay as ordered micro-batches.
    * Precondition: every chunk holds at least one row. `out` and `ckpt`
    * are the gate's sink and checkpoint paths. */
  private final class Replay(prefix: String, chunked: DataFrame, chunks: Int) {
    private val spark = chunked.sparkSession
    val tmp: Path = scratchDir(prefix)
    val out: String = tmp.resolve("out").toString
    val ckpt: String = tmp.resolve("ckpt").toString
    private val inDir = Files.createDirectories(tmp.resolve("in"))
    private val scratch = tmp.resolve("scratch")
    chunked.repartition(chunks, org.apache.spark.sql.functions.col("__c"))
      .write.partitionBy("__c").mode("overwrite")
      // scratch chunks are written once and replayed once: snappy
      // encodes ~5x faster than the profile's zstd and the replay
      // decodes faster too (guide §6: pick the codec per write purpose;
      // the profile default stays zstd for real outputs)
      .option("compression", "snappy")
      .parquet(scratch.toString)

    /** Moves chunk `c` to `in/chunk-c.parquet`. Modification time is the
      * file source's replay order, so chunks replay in `c` order however
      * they are landed (p23 lands its last chunk after a compaction). */
    def land(c: Int): Unit = {
      val dst = inDir.resolve(f"chunk-$c%02d.parquet")
      Files.move(firstParquetPart(scratch.resolve(s"__c=$c")), dst)
      dst.toFile.setLastModified(1700000000000L + c * 60000L)
    }

    def landAll(): Unit = (1 to chunks).foreach(land)

    /** The landed chunks as a stream, one chunk per micro-batch
      * (`partitionBy` keeps `__c` out of the files). */
    def stream: DataFrame = spark.readStream
      .schema(chunked.drop("__c").schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)

    /** Lands every chunk, drains `op(stream)` into a parquet sink at
      * [[out]] at the replay's state partitions, and reads the sink. */
    def toParquet(op: DataFrame => Dataset[_]): DataFrame = {
      withStatePartitions(spark) {
        landAll()
        op(stream).writeStream.format("parquet")
          .option("path", out)
          .option("checkpointLocation", ckpt)
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .start()
          .awaitTermination()
      }
      spark.read.parquet(out)
    }

    /** First `.parquet` part file of a chunk directory, closing the
      * listing (Files.list holds an OS handle until closed). */
    private def firstParquetPart(dir: Path): Path = {
      // A chunk with no rows is never written (skewed timestamps
      // collapsing a time-range chunk to zero rows, all-equal ts under
      // the spanMs=1 clamp, or a fixture too small for its split): fail
      // with a diagnostic naming the chunk, not a raw
      // NoSuchFileException from the listing (r16 ADVICE).
      require(Files.isDirectory(dir),
        s"fixture chunk $dir is empty (never written) — the chunking " +
          "produced a zero-row chunk; the fixture is too skewed or too " +
          "small to split into this many replay batches")
      val s = Files.list(dir)
      try s.iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet part in fixture chunk $dir"))
      finally s.close()
    }
  }

  /** `ev` with `__c` = 1 or 2: two contiguous time-range chunks from one
    * min/max agg and a map-side projection (no global ntile window, a
    * single-task full-corpus sort), plus the latest `ts`. Chunk
    * membership is a function of ts alone, so equal-ts events share a
    * chunk and cross-chunk order is strict by ts. */
  private def timeChunks(ev: DataFrame): (DataFrame, java.sql.Timestamp) = {
    import org.apache.spark.sql.functions._
    val bounds = ev.agg(min("ts"), max("ts")).head()
    val (minTs, maxTs) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
    // no ts at all (an empty fixture, or every ts null): the replay's
    // non-empty-chunk precondition cannot hold
    require(maxTs != null, "the events fixture has no row with a ts — the " +
      "fixture is too small to split into this many replay batches")
    val spanMs = math.max(1L, maxTs.getTime - minTs.getTime)
    (ev.withColumn("__c", least(lit(2),
      (floor((unix_millis(col("ts")) - lit(minTs.getTime))
        * 2.0 / spanMs) + 1).cast("int"))), maxTs)
  }

  /** p17 fixture writers — the same wire formats any producer emits
    * (and TabularFilesSpec hand-builds): a minimal SpreadsheetML zip
    * with inlineStr cells, an HTML table, and a repeating-children XML
    * document. XML-escaping the values is enough for the fixture's
    * `A-Z '` name alphabet. */
  private def xmlEsc(s: String): String = s
    .replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def writeXlsx(path: String, header: Seq[String],
      rows: Seq[Seq[Any]]): Unit = {
    val zos = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(java.nio.file.Paths.get(path)))
    try writeXlsxEntries(zos, header, rows) finally zos.close()
  }

  private def writeXlsxEntries(zos: java.util.zip.ZipOutputStream,
      header: Seq[String], rows: Seq[Seq[Any]]): Unit = {
    def put(name: String, content: String): Unit = {
      zos.putNextEntry(new java.util.zip.ZipEntry(name))
      zos.write(content.getBytes("UTF-8"))
      zos.closeEntry()
    }
    def cell(r: Int, ci: Int, v: Any): String = {
      val ref = s"${('A' + ci).toChar}$r"
      v match {
        case s: String =>
          s"""<c r="$ref" t="inlineStr"><is><t>${xmlEsc(s)}</t></is></c>"""
        case n => s"""<c r="$ref"><v>$n</v></c>"""
      }
    }
    val body = (header +: rows.map(_.toSeq)).zipWithIndex.map {
      case (vs, i) =>
        s"""<row r="${i + 1}">${vs.zipWithIndex.map {
          case (v, ci) => cell(i + 1, ci, v) }.mkString}</row>"""
    }.mkString("\n")
    put("[Content_Types].xml",
      """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
    put("xl/worksheets/sheet1.xml",
      s"""<?xml version="1.0"?><worksheet><sheetData>\n$body\n</sheetData></worksheet>""")
  }

  private def writeHtmlTable(path: String, header: Seq[String],
      rows: Seq[Seq[Any]]): Unit = {
    val th = header.map(h => s"<th>$h</th>").mkString
    val trs = rows.map(r =>
      s"<tr>${r.map(v => s"<td>${xmlEsc(v.toString)}</td>").mkString}</tr>")
      .mkString("\n")
    Files.write(java.nio.file.Paths.get(path),
      s"<html><body><table>\n<tr>$th</tr>\n$trs\n</table></body></html>"
        .getBytes("UTF-8"))
  }

  /** p22's and p25's DuckDB CTEs for t54's eval split and ANY-hit
    * 13-gram rule: `d` (documents with their words) and `dirty` (the
    * training docs sharing a 13-gram with an eval doc). */
  private val evalGramsDirtyDuck: String =
    """WITH d AS (
      |  SELECT doc_id, text, string_split(text, ' ') AS words,
      |         len(string_split(text, ' ')) AS n_words
      |  FROM documents),
      |pos AS (
      |  SELECT doc_id, words, unnest(range(1, n_words - 11)) AS p
      |  FROM d WHERE n_words >= 13),
      |ng AS (
      |  SELECT doc_id, array_to_string(words[p:p+12], ' ') AS g
      |  FROM pos),
      |ev AS (SELECT DISTINCT g FROM ng WHERE doc_id % 50 = 0),
      |dirty AS (
      |  SELECT DISTINCT n.doc_id FROM ng n JOIN ev USING (g)
      |  WHERE n.doc_id % 50 <> 0)""".stripMargin

  val defs: Map[String, QueryDef] = Map(

    // ----------------------------------------------------------------- p01
    // Minimum slice through the engine: tap → transform (agg) with a
    // Fn macro in the select list.
    "p01_pipeline_agg" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Lineitem
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/lineitem.parquet}
           |- name: Summary
           |  kind: transform
           |  query: >
           |    SELECT l_returnflag, l_linestatus,
           |      CAST(SUM(CAST(FLOOR(l_quantity * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS sum_qty,
           |      Fn.div(COUNT(*), 100) AS hundredths,
           |      COUNT(*) AS n
           |    FROM Lineitem
           |    GROUP BY l_returnflag, l_linestatus
           |    ORDER BY l_returnflag, l_linestatus
           |""".stripMargin),
      Some("""SELECT l_returnflag, l_linestatus,
             |  CAST(SUM(CAST(FLOOR(l_quantity * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS sum_qty,
             |  IFNULL(COUNT(*) / NULLIF(100, 0), 0) AS hundredths,
             |  COUNT(*) AS n
             |FROM lineitem
             |GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // ----------------------------------------------------------------- p02
    // Row-driven looped sub-pipeline: iterate regions, append each
    // region's nations to a Deltatable, read it back grouped.
    "p02_pipeline_loop" -> QueryDef(
      (spark, dir) => {
        val delta = scratchDir("graft_p02").toString + "/t"
        run(spark,
          s"""
             |- name: RegionsLoop
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/region.parquet}
             |- name: PerRegion
             |  kind: pipeline
             |  stages:
             |    - name: NationsOfRegion
             |      kind: tap
             |      connection: {kind: Parquet, locator: $dir/nation.parquet}
             |      query: >
             |        SELECT n_nationkey, n_name, n_regionkey FROM Parquet
             |        WHERE n_regionkey = << API.look('loop_control.r_regionkey', variables) >>
             |    - name: AppendDelta
             |      kind: sink
             |      connection:
             |        kind: Deltatable
             |        locator: $delta
             |        data_mode: append
             |- name: ReadBack
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable
             |- name: Grouped
             |  kind: transform
             |  query: >
             |    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
             |    FROM ReadBack GROUP BY n_regionkey ORDER BY n_regionkey
             |""".stripMargin)
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
             |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    // ----------------------------------------------------------------- p03
    // Fn date macros through the engine (dt_YYYY / month445 / dt_quarter).
    "p03_pipeline_fn_dates" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Orders
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/orders.parquet}
           |- name: ByYear
           |  kind: transform
           |  query: >
           |    SELECT Fn.dt_YYYY(o_orderdate) AS yr,
           |           Fn.dt_quarter(o_orderdate) AS qtr,
           |           Fn.month445(o_orderdate) AS m445,
           |           COUNT(*) AS n
           |    FROM Orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3
           |""".stripMargin),
      Some("""SELECT strftime(o_orderdate, '%Y') AS yr,
             |  QUARTER(o_orderdate) AS qtr,
             |  CASE
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 1 AND 4 THEN strftime('%G-01', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 5 AND 8 THEN strftime('%G-02', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 9 AND 13 THEN strftime('%G-03', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 14 AND 17 THEN strftime('%G-04', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 18 AND 21 THEN strftime('%G-05', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 22 AND 26 THEN strftime('%G-06', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 27 AND 30 THEN strftime('%G-07', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 31 AND 34 THEN strftime('%G-08', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 35 AND 39 THEN strftime('%G-09', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 40 AND 43 THEN strftime('%G-10', o_orderdate)
             |    WHEN CAST(strftime('%V', o_orderdate) AS INTEGER) BETWEEN 44 AND 47 THEN strftime('%G-11', o_orderdate)
             |    ELSE strftime('%G-12', o_orderdate)
             |  END AS m445,
             |  COUNT(*) AS n
             |FROM orders GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // ----------------------------------------------------------------- p04
    // QUALIFY through the engine (translated; DuckDB runs it natively).
    "p04_pipeline_qualify" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Orders
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/orders.parquet}
           |- name: TopOrderPerCustomer
           |  kind: transform
           |  query: >
           |    SELECT o_custkey, o_orderkey, o_totalprice FROM Orders
           |    QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
           |      ORDER BY o_totalprice DESC, o_orderkey) = 1
           |    ORDER BY o_custkey
           |""".stripMargin),
      Some("""SELECT o_custkey, o_orderkey, o_totalprice FROM orders
             |QUALIFY ROW_NUMBER() OVER (PARTITION BY o_custkey
             |  ORDER BY o_totalprice DESC, o_orderkey) = 1
             |ORDER BY o_custkey""".stripMargin)),

    // ----------------------------------------------------------------- p05
    // Variable sink → tap round trip (JSON interchange).
    "p05_pipeline_variable" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Regions
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/region.parquet}
           |- name: Store
           |  kind: sink
           |  connection: {kind: Variable, locator: region_rows}
           |- name: Reload
           |  kind: tap
           |  connection: {kind: Variable, locator: region_rows}
           |- name: Final
           |  kind: transform
           |  query: >
           |    SELECT CAST(r_regionkey AS INTEGER) AS r_regionkey, r_name
           |    FROM Reload ORDER BY r_regionkey
           |""".stripMargin),
      Some("SELECT r_regionkey, r_name FROM region ORDER BY r_regionkey")),

    // ----------------------------------------------------------------- p06
    // Versioned-dedup tap (version/key) through the engine.
    "p06_pipeline_dedup" -> QueryDef(
      (spark, dir) => {
        Tables.ensureEventsReadable(spark)
        run(spark,
          s"""
             |- name: LatestEvents
             |  kind: tap
             |  connection:
             |    kind: Parquet
             |    locator: $dir/events.parquet
             |    version: event_id
             |    key: [user_id, event_type]
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT user_id, event_type, event_id AS latest_event_id
             |    FROM LatestEvents ORDER BY user_id, event_type
             |""".stripMargin)
      },
      Some("""SELECT user_id, event_type, event_id AS latest_event_id
             |FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, event_type
             |        ORDER BY event_id DESC) AS rnk FROM events) t
             |WHERE rnk = 1 ORDER BY user_id, event_type""".stripMargin)),

    // ----------------------------------------------------------------- p07
    // Control flow: skip_if + on_error continue + throttle, then a count.
    "p07_pipeline_control" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Skipped
           |  kind: tap
           |  skip_if: "<< 1 == 1 >>"
           |  connection: {kind: Parquet, locator: /nonexistent_graft_p07}
           |- name: FailsButContinues
           |  kind: tap
           |  on_error: continue
           |  connection: {kind: Parquet, locator: /nonexistent_graft_p07}
           |- name: Lineitem
           |  kind: tap
           |  throttle: 0.01
           |  connection: {kind: Parquet, locator: $dir/lineitem.parquet}
           |- name: Count
           |  kind: transform
           |  query: SELECT COUNT(*) AS n FROM Lineitem
           |""".stripMargin),
      Some("SELECT COUNT(*) AS n FROM lineitem")),

    // ----------------------------------------------------------------- p08
    // CSV round trip through sinks/taps with re-cast to stable types.
    "p08_pipeline_csv" -> QueryDef(
      (spark, dir) => {
        val tmp = scratchDir("graft_p08").toString + "/csv"
        run(spark,
          s"""
             |- name: Items
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/lineitem.parquet}
             |  query: SELECT l_orderkey, l_returnflag, l_quantity FROM Parquet
             |- name: WriteCsv
             |  kind: sink
             |  connection: {kind: CSV, locator: $tmp}
             |- name: ReadCsv
             |  kind: tap
             |  connection:
             |    kind: CSV
             |    locator: $tmp
             |    fields:
             |      - {name: l_orderkey, type: BIGINT}
             |      - {name: l_returnflag, type: VARCHAR}
             |      - {name: l_quantity, type: DOUBLE}
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT l_returnflag,
             |      CAST(SUM(CAST(FLOOR(l_quantity * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS qty,
             |      COUNT(*) AS n
             |    FROM ReadCsv GROUP BY l_returnflag ORDER BY l_returnflag
             |""".stripMargin)
      },
      Some("""SELECT l_returnflag,
             |  CAST(SUM(CAST(FLOOR(l_quantity * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS qty,
             |  COUNT(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // ----------------------------------------------------------------- p09
    // JSONL round trip.
    "p09_pipeline_json" -> QueryDef(
      (spark, dir) => {
        val tmp = scratchDir("graft_p09").toString + "/json"
        run(spark,
          s"""
             |- name: Custs
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/customer.parquet}
             |  query: SELECT c_custkey, c_mktsegment, c_acctbal FROM Parquet
             |- name: WriteJson
             |  kind: sink
             |  connection: {kind: JSON, locator: $tmp, format: lines}
             |- name: ReadJson
             |  kind: tap
             |  connection: {kind: JSON, locator: $tmp, format: lines}
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT c_mktsegment,
             |      CAST(SUM(CAST(FLOOR(c_acctbal * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS bal,
             |      COUNT(*) AS n
             |    FROM ReadJson GROUP BY c_mktsegment ORDER BY c_mktsegment
             |""".stripMargin)
      },
      Some("""SELECT c_mktsegment,
             |  CAST(SUM(CAST(FLOOR(c_acctbal * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS bal,
             |  COUNT(*) AS n
             |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin)),

    // ----------------------------------------------------------------- p10
    // SQLGen (mock LLM) with retry-on-error through the engine.
    "p10_pipeline_sqlgen" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Parts
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/part.parquet}
           |- name: Gen
           |  kind: tap
           |  connection:
           |    kind: SQLGen
           |    locator: p10gen
           |    mock_sql:
           |      - "SELECT no_such_col FROM Parts"
           |      - "SELECT p_brand, COUNT(*) AS n FROM Parts GROUP BY p_brand ORDER BY p_brand"
           |  query: "count parts by brand"
           |""".stripMargin),
      Some("SELECT p_brand, COUNT(*) AS n FROM part GROUP BY p_brand ORDER BY p_brand")),

    // ----------------------------------------------------------------- p11
    // ORC round trip (format extension beyond the reference; the oracle
    // aggregates the source table directly since DuckDB reads no ORC).
    "p11_pipeline_orc" -> QueryDef(
      (spark, dir) => {
        val tmp = scratchDir("graft_p11").toString + "/orc"
        run(spark,
          s"""
             |- name: Orders
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/orders.parquet}
             |  query: SELECT o_orderkey, o_orderstatus, o_totalprice FROM Parquet
             |- name: WriteOrc
             |  kind: sink
             |  connection: {kind: ORC, locator: $tmp}
             |- name: ReadOrc
             |  kind: tap
             |  connection: {kind: ORC, locator: $tmp}
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT o_orderstatus,
             |      CAST(SUM(CAST(FLOOR(o_totalprice * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS total,
             |      COUNT(*) AS n
             |    FROM ReadOrc GROUP BY o_orderstatus ORDER BY o_orderstatus
             |""".stripMargin)
      },
      Some("""SELECT o_orderstatus,
             |  CAST(SUM(CAST(FLOOR(o_totalprice * 1e4 + 0.5) AS BIGINT)) AS DOUBLE) / 1e4 AS total,
             |  COUNT(*) AS n
             |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin)),

    // ----------------------------------------------------------------- p12
    // The t-layer's curation flow driven through the USER-FACING engine
    // surface: a three-stage YAML pipeline (exact dedup via QUALIFY →
    // length verdicts → report) written in the reference's DuckDB
    // dialect, so the gate proves the dialect bridge (QUALIFY rewrite,
    // len → graft_len, string_split → split) composes with window
    // functions and the t01-style md5 dedup rule inside Flow — not just
    // in the DataFrame layer where t63 pins the same ideas.
    "p12_pipeline_curation" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Docs
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/documents.parquet}
           |- name: Deduped
           |  kind: transform
           |  query: >
           |    SELECT doc_id, text, n_chars FROM Docs
           |    QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
           |      ORDER BY doc_id) = 1
           |- name: Verdicts
           |  kind: transform
           |  query: >
           |    SELECT CASE WHEN n_chars < 150 THEN 'short'
           |                WHEN n_chars > 400 THEN 'long'
           |                ELSE 'keep' END AS verdict
           |    FROM Deduped
           |- name: Report
           |  kind: transform
           |  query: >
           |    SELECT verdict, COUNT(*) AS n FROM Verdicts
           |    GROUP BY verdict ORDER BY verdict
           |""".stripMargin),
      Some("""WITH dd AS (
             |  SELECT doc_id, text, n_chars FROM documents
             |  QUALIFY ROW_NUMBER() OVER (PARTITION BY md5(text)
             |    ORDER BY doc_id) = 1),
             |v AS (
             |  SELECT CASE WHEN n_chars < 150 THEN 'short'
             |              WHEN n_chars > 400 THEN 'long'
             |              ELSE 'keep' END AS verdict
             |  FROM dd)
             |SELECT verdict, COUNT(*) AS n FROM v
             |GROUP BY verdict ORDER BY verdict""".stripMargin)),

    // ----------------------------------------------------------------- p13
    // The native extension FUNCTIONS through the engine's SQL surface:
    // a user pipeline computes t76's winnowing near-dup pairs entirely
    // in YAML transform SQL — `winnow_fps` is registered on the session
    // by the SQL bridge (SqlBridge.scala), so the MOSS fingerprint
    // stage, the df-capped posting lists, the map-side pair unfold and
    // the containment join all express as plain stage SQL. Oracle =
    // t76's relational spelling: the ENGINE path and the DataFrame
    // path (t76) must both hash-match it.
    "p13_pipeline_winnow" -> QueryDef(
      (spark, dir) => run(spark,
        s"""
           |- name: Docs
           |  kind: tap
           |  connection: {kind: Parquet, locator: $dir/documents.parquet}
           |- name: Fps
           |  kind: transform
           |  query: >
           |    SELECT DISTINCT doc_id, fp
           |    FROM Docs
           |    LATERAL VIEW explode(winnow_fps(split(text, ' '), 3, 4)) AS fp
           |- name: Groups
           |  kind: transform
           |  query: >
           |    SELECT fp, sort_array(collect_list(doc_id)) AS ids
           |    FROM Fps GROUP BY fp
           |    HAVING COUNT(doc_id) <= 50
           |- name: Inter
           |  kind: transform
           |  query: >
           |    SELECT p.a AS doc_a, p.b AS doc_b, COUNT(*) AS n_common
           |    FROM Groups
           |    LATERAL VIEW explode(flatten(transform(ids, (x, i) ->
           |      transform(slice(ids, i + 2, size(ids)),
           |        y -> struct(x AS a, y AS b))))) AS p
           |    WHERE size(ids) > 1
           |    GROUP BY p.a, p.b HAVING COUNT(*) >= 2
           |- name: Sizes
           |  kind: transform
           |  query: >
           |    SELECT doc_id, COUNT(*) AS n_fp FROM
           |      (SELECT explode(ids) AS doc_id FROM Groups)
           |    GROUP BY doc_id
           |- name: Report
           |  kind: transform
           |  query: >
           |    SELECT i.doc_a, i.doc_b, sa.n_fp AS fp_a, sb.n_fp AS fp_b,
           |      i.n_common,
           |      CAST(i.n_common AS DOUBLE)
           |        / CAST(least(sa.n_fp, sb.n_fp) AS DOUBLE) AS containment
           |    FROM Inter i
           |    JOIN Sizes sa ON i.doc_a = sa.doc_id
           |    JOIN Sizes sb ON i.doc_b = sb.doc_id
           |    ORDER BY doc_a, doc_b
           |""".stripMargin),
      // t76's oracle verbatim — one truth, two engine paths
      Curation.defs("t76_winnow_overlap").oracle),

    // ----------------------------------------------------------------- p14
    // The REST framework through the engine's YAML surface, against an
    // in-process loopback HTTP server (mirroring the reference's
    // integration fixture, ankaflow/tests/itest_integration.py:20-115 +
    // support/rest_server.py): a `kind: Rest` tap with bearer auth and a
    // Pagination handler walks 3 pages of the nation table (10+10+5,
    // with a total_records cap), and the FIRST page-1 request answers
    // 429 once so the wait-and-retry leg runs inside the gate, not just
    // in RestSpec. The oracle reads the same rows straight from parquet
    // — if auth, pagination, the 429 retry, record extraction, or the
    // JSON materializer bend a single value, the hash diverges.
    //
    // Scale note: REST ingestion is driver-side by nature (SURVEY §2.8);
    // the loopback server is the gate's stand-in for a remote API and
    // serves the fixture's own rows, so the oracle stays a pure
    // parquet query.
    "p14_pipeline_rest" -> QueryDef(
      (spark, dir) => {
        import com.sun.net.httpserver.{HttpExchange, HttpServer}
        val rows = Tables.t(spark, dir, "nation")
          .orderBy("n_nationkey").toJSON.collect()
        // per-INVOCATION one-shot (r12 verdict): every gate run and every
        // bench sample exercises the 429 wait-and-retry leg. The server
        // sends `Retry-After: 0`, so the leg costs a round trip, not a
        // 1 s sleep billed to the engine.
        val throttled = new java.util.concurrent.atomic.AtomicBoolean(false)
        val server = HttpServer.create(
          new java.net.InetSocketAddress("127.0.0.1", 0), 0)
        server.createContext("/nations", (ex: HttpExchange) => {
          val authOk = Option(
            ex.getRequestHeaders.getFirst("Authorization"))
            .contains("Bearer sesame")
          val q = Option(ex.getRequestURI.getQuery).getOrElse("")
          val page = "page=(\\d+)".r.findFirstMatchIn(q)
            .map(_.group(1).toInt).getOrElse(0)
          val (code, body) =
            if (!authOk) (401, """{"error":"unauthorized"}""")
            else if (page == 1 && throttled.compareAndSet(false, true)) {
              ex.getResponseHeaders.set("Retry-After", "0")
              (429, """{"error":"slow down"}""")
            } else {
              val slice = rows.slice(page * 10, page * 10 + 10)
              (200, s"""{"data":{"rows":[${slice.mkString(",")}],""" +
                s""""total":${rows.length}}}""")
            }
          val bytes = body.getBytes("UTF-8")
          ex.getResponseHeaders.set("Content-Type", "application/json")
          ex.sendResponseHeaders(code, bytes.length)
          ex.getResponseBody.write(bytes)
          ex.close()
        })
        server.start()
        // the Rest tap fetches eagerly inside Flow.run (pages land as
        // in-memory JSON strings), so the server can stop right after
        try {
          val out = run(spark,
          s"""
             |- name: Nations
             |  kind: tap
             |  connection:
             |    kind: Rest
             |    locator: p14
             |    client:
             |      base_url: http://127.0.0.1:${server.getAddress.getPort}
             |      auth: {kind: bearer, token: sesame}
             |    request:
             |      endpoint: /nations
             |      method: get
             |      query: {page: 0}
             |      response:
             |        locator: data.rows
             |        handler:
             |          kind: Pagination
             |          page_param: page
             |          page_size: 10
             |          increment: 1
             |          total_records: data.total
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT CAST(n_nationkey AS INTEGER) AS n_nationkey, n_name,
             |           CAST(n_regionkey AS INTEGER) AS n_regionkey
             |    FROM Nations ORDER BY n_nationkey
             |""".stripMargin)
          // the gate's own invariant: this invocation really served (and
          // survived) the 429 leg — a regression that stops requesting
          // page 1, or reorders pages past the throttle, fails loudly
          // here instead of silently losing retry coverage
          require(throttled.get(),
            "p14: the 429 throttle leg was not exercised this invocation")
          out
        } finally server.stop(0)
      },
      Some("SELECT n_nationkey, n_name, n_regionkey FROM nation " +
        "ORDER BY n_nationkey")),

    // ----------------------------------------------------------------- p15
    // Delta pseudo-SQL through the engine: p02 covers append/read-back;
    // this drives the remaining sql-stage surface (reference:
    // ankaflow/connections/delta.py:552-659) inside the gate — append,
    // OPTIMIZE (compaction rewrite), TRUNCATE (schema-preserving empty),
    // re-append, DROP — reading the table back after each mutation. The
    // read-backs double as a proof of the loop-snapshot machinery: each
    // tap's source is rewritten by a LATER sql/sink stage, so Flow must
    // localCheckpoint the tap (a lazy view would silently see the
    // post-mutation table) for the counts to come out right.
    "p15_pipeline_delta_optimize" -> QueryDef(
      (spark, dir) => {
        val delta = scratchDir("graft_p15").toString + "/t"
        run(spark,
          s"""
             |- name: Nations
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |- name: Seed
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: append
             |- name: Optimize
             |  kind: sql
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: OPTIMIZE DELTATABLE COMPACT VACUUM AGE=0h
             |- name: AfterOptimize
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable
             |- name: Truncate
             |  kind: sql
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: TRUNCATE DELTATABLE
             |- name: AfterTruncate
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable
             |- name: Reload
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |- name: Reseed
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: append
             |- name: AfterReload
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable
             |- name: Drop
             |  kind: sql
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: DROP DELTATABLE
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT 'after_optimize' AS stage, COUNT(*) AS n,
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) AS key_sum
             |    FROM AfterOptimize
             |    UNION ALL
             |    SELECT 'after_truncate', COUNT(*),
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT)
             |    FROM AfterTruncate
             |    UNION ALL
             |    SELECT 'after_reload', COUNT(*),
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT)
             |    FROM AfterReload
             |    ORDER BY stage
             |""".stripMargin)
      },
      Some("""SELECT 'after_optimize' AS stage, COUNT(*) AS n,
             |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum FROM nation
             |UNION ALL
             |SELECT 'after_reload', COUNT(*),
             |  CAST(SUM(n_nationkey) AS BIGINT) FROM nation
             |UNION ALL
             |SELECT 'after_truncate', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |ORDER BY stage""".stripMargin)),

    // ----------------------------------------------------------------- p16
    // PARALLEL row-driven loop through the gate: p02's shape with
    // `parallel: true` — iterations run concurrently on the shared
    // session, each sinking to its own templated locator (the documented
    // contract for parallel loops: no shared append target). The
    // read-back unions the per-iteration parquet dirs via partition
    // discovery (r=<key>), so the oracle (nations per region, straight
    // from parquet) only matches if every concurrent iteration filtered,
    // wrote, and isolated its loop_control correctly. FlowSpec pins
    // parallel ≡ serial; this puts the engine's concurrency path in the
    // driver's hash gate as well.
    "p16_pipeline_parallel_loop" -> QueryDef(
      (spark, dir) => {
        val out = scratchDir("graft_p16").toString + "/out"
        run(spark,
          s"""
             |- name: Regions
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/region.parquet}
             |- name: PerRegion
             |  kind: pipeline
             |  parallel: true
             |  stages:
             |    - name: NationsOfRegion
             |      kind: tap
             |      connection: {kind: Parquet, locator: $dir/nation.parquet}
             |      query: >
             |        SELECT n_nationkey, n_name, n_regionkey FROM Parquet
             |        WHERE n_regionkey = << API.look('loop_control.r_regionkey', variables) >>
             |    - name: Out
             |      kind: sink
             |      connection:
             |        kind: Parquet
             |        locator: $out/r=<< API.look('loop_control.r_regionkey', variables) >>
             |- name: ReadBack
             |  kind: tap
             |  connection: {kind: Parquet, locator: $out}
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
             |    FROM ReadBack GROUP BY n_regionkey ORDER BY n_regionkey
             |""".stripMargin)
      },
      Some("""SELECT n_regionkey, COUNT(*) AS n_nations, MIN(n_name) AS first_nation
             |FROM nation GROUP BY n_regionkey ORDER BY n_regionkey""".stripMargin)),

    // ----------------------------------------------------------------- p17
    // The TABULAR FILE parsers through the gate: the File connection's
    // xlsx (SpreadsheetML zip + StAX), html (first-table scrape), and
    // xml (repeating-children) readers were unit-only (TabularFilesSpec;
    // reference: pandas read_excel/read_html/read_xml, file.py:136-147).
    // The pipeline writes the fixture's OWN rows into all three wire
    // formats, taps each through Flow YAML, joins them in stage SQL
    // (nation⋈region, semi-filtered by an XML keep-list), and
    // hash-matches a pure-parquet oracle — typed column inference
    // included: if any parser bends a value, type, or row, the join or
    // the sums diverge.
    //
    // Scale note: tabular office files are driver-side by nature
    // (single-file formats, same as the reference's pandas readers);
    // the gate proves parser fidelity, not distribution.
    "p17_pipeline_tabular" -> QueryDef(
      (spark, dir) => {
        val tmp = scratchDir("graft_p17").toString
        val nations = Tables.t(spark, dir, "nation")
          .orderBy("n_nationkey")
          .select("n_nationkey", "n_name", "n_regionkey").collect()
          .map(r => Seq[Any](r.getAs[Number](0).longValue(), r.getString(1),
            r.getAs[Number](2).longValue()))
        val regions = Tables.t(spark, dir, "region")
          .orderBy("r_regionkey").select("r_regionkey", "r_name").collect()
          .map(r => Seq[Any](r.getAs[Number](0).longValue(), r.getString(1)))
        writeXlsx(s"$tmp/nation.xlsx",
          Seq("n_nationkey", "n_name", "n_regionkey"), nations.toSeq)
        writeHtmlTable(s"$tmp/region.html",
          Seq("r_regionkey", "r_name"), regions.toSeq)
        Files.write(java.nio.file.Paths.get(s"$tmp/keep.xml"),
          ("<keeps>" + (0 to 3).map(k =>
            s"<keep><k>$k</k></keep>").mkString + "</keeps>")
            .getBytes("UTF-8"))
        run(spark,
          s"""
             |- name: Nations
             |  kind: tap
             |  connection: {kind: File, locator: $tmp/nation.xlsx}
             |- name: Regions
             |  kind: tap
             |  connection: {kind: File, locator: $tmp/region.html}
             |- name: Keeps
             |  kind: tap
             |  connection: {kind: File, locator: $tmp/keep.xml}
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT r_name, COUNT(*) AS n_nations,
             |           CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
             |    FROM Nations JOIN Regions ON n_regionkey = r_regionkey
             |    WHERE n_regionkey IN (SELECT k FROM Keeps)
             |    GROUP BY r_name ORDER BY r_name
             |""".stripMargin)
      },
      Some("""SELECT r_name, COUNT(*) AS n_nations,
             |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum
             |FROM nation JOIN region ON n_regionkey = r_regionkey
             |WHERE n_regionkey <= 3
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // ----------------------------------------------------------------- p18
    // The ExternalSql JDBC family through the gate — the last engine
    // subsystem that was unit-only (r12 verdict #1). Two loopback
    // "remote" systems, both real wire-protocol JDBC hops:
    //
    //  * embedded Derby (`derby-10.16.1.1.jar` ships in /opt/spark/jars)
    //    covers the TRANSFER surface: sink data_mode overwrite (CREATE)
    //    then append (doubling the rows), a raw `sql` stage (DELETE
    //    trimming keys >= 20 — 2×20 rows survive), and a tap whose
    //    blocksize→fetchsize and partition_column/num_partitions options
    //    drive a 4-way PARALLEL JDBC read (the Spark-side scale path the
    //    single-threaded reference cannot do);
    //  * an in-process HiveServer2 ([[graft.connections.ThriftLoopback]],
    //    hive-jdbc + spark-hive-thriftserver jars) covers the REMOTE
    //    RANKED-DEDUP injection (reference:
    //    ankaflow/connections/clickhouse.py:145-156 via
    //    common/util.py:336-383): the version/key tap ships a
    //    ROW_NUMBER-OVER-PARTITION statement to the remote, dedup runs
    //    THERE, and only surviving rows cross the wire — Derby has no
    //    PARTITION BY, so the full-SQL endpoint plays the ClickHouse
    //    role. Identifier quoting is dialect-aware (backticks for hive2,
    //    ANSI double quotes otherwise — see IdQuote).
    //
    // The final transform folds both legs into (leg, n, checksum) rows;
    // the oracle recomputes them from the parquet fixture, so a bent
    // disposition, lost DELETE, broken partition predicate, or
    // wrong-rowed remote rank all diverge the hash.
    "p18_pipeline_jdbc" -> QueryDef(
      (spark, dir) => {
        val tmp = scratchDir("graft_p18").toString
        // keep derby.log out of the process cwd (engine-boot property;
        // first setter in the JVM wins, which is always a temp dir).
        // NOT derby.system.home: that would re-root the thrift server's
        // in-memory metastore URL (jdbc:derby:memory:...) onto the
        // filesystem and break its schema bootstrap.
        System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
        val derbyUrl = s"jdbc:derby:$tmp/db;create=true"
        val port = graft.connections.ThriftLoopback.ensure(spark)
        Tables.t(spark, dir, "events")
          .createOrReplaceGlobalTempView("p18_events")
        run(spark,
          s"""
             |- name: Nations
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |  query: SELECT n_nationkey, n_name, n_regionkey FROM Parquet
             |- name: SeedRemote
             |  kind: sink
             |  connection:
             |    kind: Clickhouse
             |    locator: nation_remote
             |    data_mode: overwrite
             |    config: {jdbc_url: "$derbyUrl", database: GRAFT}
             |- name: AppendRemote
             |  kind: sink
             |  connection:
             |    kind: Clickhouse
             |    locator: nation_remote
             |    data_mode: append
             |    config: {jdbc_url: "$derbyUrl", database: GRAFT}
             |- name: TrimRemote
             |  kind: sql
             |  connection:
             |    kind: Clickhouse
             |    locator: nation_remote
             |    config: {jdbc_url: "$derbyUrl", database: GRAFT}
             |  query: DELETE FROM "GRAFT"."nation_remote" WHERE "n_nationkey" >= 20
             |- name: RemoteBack
             |  kind: tap
             |  connection:
             |    kind: Clickhouse
             |    locator: nation_remote
             |    partition_column: n_nationkey
             |    num_partitions: "4"
             |    lower_bound: "0"
             |    upper_bound: "25"
             |    config: {jdbc_url: "$derbyUrl", database: GRAFT, blocksize: "7"}
             |  query: SELECT "n_nationkey", "n_name", "n_regionkey" FROM Clickhouse
             |- name: LatestEvents
             |  kind: tap
             |  connection:
             |    kind: Clickhouse
             |    locator: global_temp.p18_events
             |    version: event_id
             |    key: [user_id, event_type]
             |    config:
             |      jdbc_url: "jdbc:hive2://127.0.0.1:$port/default"
             |      username: anonymous
             |  query: SELECT user_id, event_type, event_id FROM Clickhouse
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT 'derby' AS leg, COUNT(*) AS n,
             |      CAST(SUM(n_nationkey) AS BIGINT) AS checksum
             |    FROM RemoteBack
             |    UNION ALL
             |    SELECT 'ranked' AS leg, COUNT(*) AS n,
             |      CAST(SUM(event_id) AS BIGINT) AS checksum
             |    FROM LatestEvents
             |    ORDER BY leg
             |""".stripMargin)
      },
      Some("""SELECT 'derby' AS leg, CAST(COUNT(*) * 2 AS BIGINT) AS n,
             |  CAST(SUM(n_nationkey) * 2 AS BIGINT) AS checksum
             |FROM nation WHERE n_nationkey < 20
             |UNION ALL
             |SELECT 'ranked' AS leg, COUNT(*) AS n,
             |  CAST(SUM(latest) AS BIGINT) AS checksum
             |FROM (SELECT MAX(event_id) AS latest FROM events
             |      GROUP BY user_id, event_type) t
             |ORDER BY leg""".stripMargin)),

    // ----------------------------------------------------------------- p19
    // DELTA TIME TRAVEL through the gate — the last documented
    // Deltatable approximation made real (r12 verdict #6): every commit
    // appends a `_graft_log/<version>.json` manifest and destructive
    // commits retire their files instead of deleting them
    // (DeltaConnection scaladoc), so `VERSION AS OF n` in the tap's
    // pseudo-SQL reconstructs any version exactly. The pipeline commits
    // four versions — overwrite (v0), append (v1), TRUNCATE (v2),
    // append (v3) — then taps v0, v1, v2 and the current table in one
    // run and folds each into (ver, n, key_sum) rows. The v1 read only
    // matches if the overwrite RETIRED v0's files and the append's
    // manifest unions both writes; the v2 read proves an empty version
    // reconstructs from its manifest schema alone.
    "p19_pipeline_delta_timetravel" -> QueryDef(
      (spark, dir) => {
        val delta = scratchDir("graft_p19").toString + "/t"
        run(spark,
          s"""
             |- name: Nations
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |- name: SeedV0
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: overwrite
             |- name: RegionZero
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |  query: SELECT * FROM Parquet WHERE n_regionkey = 0
             |- name: AppendV1
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: append
             |- name: TruncateV2
             |  kind: sql
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: TRUNCATE DELTATABLE
             |- name: RegionZeroOne
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |  query: SELECT * FROM Parquet WHERE n_regionkey <= 1
             |- name: AppendV3
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: append
             |- name: V0
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 0
             |- name: V1
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 1
             |- name: V2
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 2
             |- name: Cur
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT 'v0' AS ver, COUNT(*) AS n,
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) AS key_sum
             |    FROM V0
             |    UNION ALL
             |    SELECT 'v1', COUNT(*),
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) FROM V1
             |    UNION ALL
             |    SELECT 'v2', COUNT(*),
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) FROM V2
             |    UNION ALL
             |    SELECT 'cur', COUNT(*),
             |      CAST(COALESCE(SUM(n_nationkey), 0) AS BIGINT) FROM Cur
             |    ORDER BY ver
             |""".stripMargin)
      },
      Some("""SELECT 'v0' AS ver, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum FROM nation
             |UNION ALL
             |SELECT 'v1', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(n_nationkey) AS BIGINT)
             |FROM (SELECT n_nationkey FROM nation
             |      UNION ALL
             |      SELECT n_nationkey FROM nation WHERE n_regionkey = 0)
             |UNION ALL
             |SELECT 'v2', CAST(0 AS BIGINT), CAST(0 AS BIGINT)
             |UNION ALL
             |SELECT 'cur', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(n_nationkey) AS BIGINT)
             |FROM nation WHERE n_regionkey <= 1
             |ORDER BY ver""".stripMargin)),

    // ----------------------------------------------------------------- p20
    // STREAMING ENGINE THROUGH THE ORACLE GATE — the one subsystem whose
    // correctness previously rested on StreamingSpec's stream≡batch pins
    // alone (r13 verdict residual #3). This entry EXECUTES the streaming
    // engine (file source → flatMapGroupsWithState sessionization →
    // parquet sink under Trigger.AvailableNow, a real multi-micro-batch
    // incremental run with per-key state round-tripping the state store
    // between batches) and hashes its emitted frame against batch t93's
    // DuckDB oracle verbatim.
    //
    // Fixture prep (NOT the measured operator): the events fixture is
    // split into 2 time-ordered chunk files with increasing modification
    // times, so the file source replays them as 2 ordered micro-batches
    // (maxFilesPerTrigger=1) — the per-key in-order cross-batch delivery
    // sessionizeSeq's equivalence contract requires (in-batch order is
    // free: it sorts each batch). Two data batches are the MINIMUM that
    // proves per-key state crossing a checkpoint commit (carry, merge,
    // close, accumulate all fire at the boundary — sessions spanning it
    // are preserved at any chunk count ≥2 because chunk membership is a
    // function of ts alone); r16 ran 4 and each extra batch only re-paid
    // the micro-batch floor (p24 established the 2-chunk minimum). A 3rd
    // sentinel file (one far-future 'flush' event per user) closes every
    // trailing session; sentinel sessions themselves never close, so
    // append mode never emits them.
    // The stream has no global session ordinal — session_seq is assigned
    // post-hoc per user by start order, valid because the gap rule makes
    // session starts strictly increasing per user (same rule as
    // StreamingSpec's pin).
    //
    // Wall decomposition at sf0.1 (P20Probe, r17, warm): bounds agg
    // 0.13 s + chunk write 0.7 s + STREAM 2.2 s + read-back 0.5 s. The
    // stream term is 3 micro-batch plans + state-store commits + the
    // stream start — the measured object itself; prep and read-back
    // are at their job floors. Bench min 4.37 → 3.10 s with the
    // 2-chunk trim.
    "p20_pipeline_streaming_sessionize" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        import org.apache.spark.sql.expressions.Window
        import spark.implicits._
        implicit val s: SparkSession = spark
        val ev = Tables.t(spark, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
        // time-range chunks keep per-key order across batches; order
        // inside a batch is free (sessionizeSeq sorts each batch)
        val (chunked, maxTs) = timeChunks(ev)
        val sentinels = ev.select(col("user_id")).distinct()
          .withColumn("event_id",
            -row_number().over(Window.orderBy("user_id")).cast("long"))
          .withColumn("ts",
            lit(new java.sql.Timestamp(maxTs.getTime + 86400000L)))
          .withColumn("event_type", lit("flush"))
          .withColumn("value", lit(0.0))
          .select("event_id", "ts", "user_id", "event_type", "value")
        val sessions = new Replay("graft_p20",
          chunked.unionByName(sentinels.withColumn("__c", lit(3))), 3)
          .toParquet(in => graft.streaming.Streams.sessionizeSeq(
            in.as[graft.streaming.Streams.Event]))
        val wn = Window.partitionBy("user_id").orderBy("started", "ended")
        sessions
          .withColumn("session_seq", row_number().over(wn).cast("long"))
          .select(col("user_id"), col("session_seq"),
            col("n_events").cast("long").as("n_events"),
            (unix_micros(col("ended")) - unix_micros(col("started")))
              .as("dur_us"),
            col("seq"))
          .orderBy("user_id", "session_seq")
      },
      // batch t93's oracle VERBATIM — the whole point of the gate
      DataSelection.defs("t93_session_sequences").oracle),

    // ----------------------------------------------------------------- p21
    // PARTITIONED-TABLE TIME TRAVEL — closes the last documented
    // Deltatable approximation (r13 verdict residual #1): manifests now
    // record partition columns, retirement preserves the hive-style
    // `n_regionkey=<v>/` layout, and `VERSION AS OF n` reconstructs
    // partition VALUES via basePath discovery (DeltaConnection
    // scaladoc). The pipeline commits five versions on a table
    // partitioned by n_regionkey — overwrite (v0), append (v1),
    // OPTIMIZE COMPACT (v2, exercises the partition-preserving
    // compaction rewrite), overwrite (v3), append (v4) — then taps
    // v0..v3 and the current table. Each fold SUMS n_regionkey, a
    // column that exists ONLY in directory names on disk: the sums
    // match the oracle only if every versioned read reconstructs the
    // partition values correctly (v1/v2 from fully-retired files,
    // v3/cur from live ones, v2 additionally proving compaction kept
    // rows AND layout).
    "p21_pipeline_delta_partitioned_timetravel" -> QueryDef(
      (spark, dir) => {
        val delta = scratchDir("graft_p21").toString + "/t"
        run(spark,
          s"""
             |- name: Nations
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |- name: SeedV0
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: overwrite
             |    partition: [n_regionkey]
             |- name: RegionZero
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |  query: SELECT * FROM Parquet WHERE n_regionkey = 0
             |- name: AppendV1
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: append
             |    partition: [n_regionkey]
             |- name: CompactV2
             |  kind: sql
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: OPTIMIZE DELTATABLE COMPACT
             |- name: RegionZeroOne
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |  query: SELECT * FROM Parquet WHERE n_regionkey <= 1
             |- name: OverwriteV3
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: overwrite
             |    partition: [n_regionkey]
             |- name: RegionTwo
             |  kind: tap
             |  connection: {kind: Parquet, locator: $dir/nation.parquet}
             |  query: SELECT * FROM Parquet WHERE n_regionkey = 2
             |- name: AppendV4
             |  kind: sink
             |  connection:
             |    kind: Deltatable
             |    locator: $delta
             |    data_mode: append
             |    partition: [n_regionkey]
             |- name: V0
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 0
             |- name: V1
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 1
             |- name: V2
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 2
             |- name: V3
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable VERSION AS OF 3
             |- name: Cur
             |  kind: tap
             |  connection: {kind: Deltatable, locator: $delta}
             |  query: select * from Deltatable
             |- name: Final
             |  kind: transform
             |  query: >
             |    SELECT 'v0' AS ver, COUNT(*) AS n,
             |      CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             |      CAST(SUM(n_regionkey) AS BIGINT) AS reg_sum
             |    FROM V0
             |    UNION ALL
             |    SELECT 'v1', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT),
             |      CAST(SUM(n_regionkey) AS BIGINT) FROM V1
             |    UNION ALL
             |    SELECT 'v2', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT),
             |      CAST(SUM(n_regionkey) AS BIGINT) FROM V2
             |    UNION ALL
             |    SELECT 'v3', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT),
             |      CAST(SUM(n_regionkey) AS BIGINT) FROM V3
             |    UNION ALL
             |    SELECT 'cur', COUNT(*), CAST(SUM(n_nationkey) AS BIGINT),
             |      CAST(SUM(n_regionkey) AS BIGINT) FROM Cur
             |    ORDER BY ver
             |""".stripMargin)
      },
      Some("""WITH v1 AS (SELECT n_nationkey, n_regionkey FROM nation
             |            UNION ALL
             |            SELECT n_nationkey, n_regionkey FROM nation
             |            WHERE n_regionkey = 0),
             |cur AS (SELECT n_nationkey, n_regionkey FROM nation
             |        WHERE n_regionkey <= 1
             |        UNION ALL
             |        SELECT n_nationkey, n_regionkey FROM nation
             |        WHERE n_regionkey = 2)
             |SELECT 'v0' AS ver, CAST(COUNT(*) AS BIGINT) AS n,
             |  CAST(SUM(n_nationkey) AS BIGINT) AS key_sum,
             |  CAST(SUM(n_regionkey) AS BIGINT) AS reg_sum FROM nation
             |UNION ALL
             |SELECT 'v1', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(n_nationkey) AS BIGINT),
             |  CAST(SUM(n_regionkey) AS BIGINT) FROM v1
             |UNION ALL
             |SELECT 'v2', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(n_nationkey) AS BIGINT),
             |  CAST(SUM(n_regionkey) AS BIGINT) FROM v1
             |UNION ALL
             |SELECT 'v3', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(n_nationkey) AS BIGINT),
             |  CAST(SUM(n_regionkey) AS BIGINT)
             |FROM nation WHERE n_regionkey <= 1
             |UNION ALL
             |SELECT 'cur', CAST(COUNT(*) AS BIGINT),
             |  CAST(SUM(n_nationkey) AS BIGINT),
             |  CAST(SUM(n_regionkey) AS BIGINT) FROM cur
             |ORDER BY ver""".stripMargin)),

    // ----------------------------------------------------------------- p22
    // STREAMING NEAR-DUP INGEST PATH THROUGH THE ORACLE GATE — p20's
    // pattern applied to the two ingest operators that were still only
    // test-pinned (r14 verdict residual #2): `streamingDedup`
    // (dropDuplicatesWithinWatermark — digest state in the state store)
    // and `streamingDecontaminate` (broadcast 13-gram ANY-hit filter),
    // fused into ONE streaming query so one engine run gates both.
    //
    // The documents fixture has NO exact duplicates (t01 is the proof:
    // one group per document), so a dedup replay over it would be
    // vacuous. Fixture prep therefore INJECTS clones: every training doc
    // with doc_id % 7 == 3 is duplicated verbatim under a far-offset id.
    // The stream replays 3 micro-batches (maxFilesPerTrigger=1, original
    // docs split by id parity, clones all in the LAST batch with later
    // event times), so every clone arrives a batch AFTER its original
    // and survives ONLY if the digest state failed to cross the state
    // store — the gate asserts n_kept = 1 per content hash, which a
    // single leaked duplicate breaks. Eval docs (doc_id % 50 == 0, t54's
    // split) never enter the stream; they feed the decontaminator's
    // broadcast gram set, so contaminated training docs must be dropped
    // at the door. Gating on the digest set (not kept doc_ids) is
    // deliberate: within one micro-batch dropDuplicatesWithinWatermark
    // keeps whichever copy a task sees first — the KEPT-ONE-PER-DIGEST
    // contract is deterministic, the surviving doc_id is not (duplicates
    // are verbatim clones, so every downstream property is digest-level
    // anyway). No sentinel batch: dedup emits kept rows immediately in
    // append mode, unlike p20's sessions which need closing.
    "p22_pipeline_streaming_dedup_decon" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.t(spark, dir, "documents")
          .filter(col("doc_id") % 50 =!= 0) // eval docs never ingest
          .select(col("doc_id"), col("text"))
        val evalDocs = Tables.t(spark, dir, "documents")
          .filter(col("doc_id") % 50 === 0).select("text")
        // clone ids offset by a constant far past any fixture id (no
        // max(doc_id) job — the gate only needs clone ids DISJOINT from
        // and event-times LATER than every original)
        val cloneOff = 1000000000000L
        val clones = docs.filter(col("doc_id") % 7 === 3)
          .withColumn("doc_id", col("doc_id") + lit(cloneOff))
        // batch split by id parity (no global ntile window: originals
        // are all-distinct texts, so WHICH original batch a doc lands in
        // is immaterial — only originals-before-clones is); event time =
        // doc_id seconds since epoch, so clones arrive strictly later
        val chunked = docs
          .withColumn("__c", (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
          .unionByName(clones.withColumn("__c", lit(3)))
          .withColumn("ts", col("doc_id").cast("timestamp"))
          .select(col("__c"), col("ts"), col("doc_id"), col("text"))
        // watermark delay far past the fixture's event-time span at any
        // SF: digest state must survive the whole replay — eager
        // eviction would itself leak duplicates through the gate
        val kept = new Replay("graft_p22", chunked, 3).toParquet { in =>
          graft.streaming.Streams.streamingDecontaminate(
            graft.streaming.Streams.streamingDedup(
              in, "ts", "text", watermark = "3650 days"),
            "text", evalDocs, "text")
        }
        kept.groupBy(md5(col("text").cast("binary")).as("content_hash"))
          .agg(count(lit(1)).as("n_kept"))
          .orderBy("content_hash")
      },
      // t01's digest + t54's eval split and ANY-hit gram rule, fused:
      // the expected kept set is one row per distinct clean training
      // digest — n_kept hard-codes 1 because that IS the contract
      Some(s"""$evalGramsDirtyDuck
             |SELECT DISTINCT md5(text) AS content_hash,
             |  CAST(1 AS BIGINT) AS n_kept
             |FROM d
             |WHERE doc_id % 50 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM dirty)
             |ORDER BY content_hash""".stripMargin)),

    // ----------------------------------------------------------------- p23
    // INCREMENTAL DEDUP INDEX THROUGH THE ORACLE GATE — the last
    // streaming path that was only test-pinned (r14 verdict residual
    // #2's tail): the foreachBatch index (`incrementalDedup`), its
    // checkpoint run-marker, the commit-frontier-validated
    // `compactIndex`, AND checkpoint resume, all in one run. Phase A
    // streams the OLD docs (t36's substr(source,4) < 10 side) as two
    // parity micro-batches — every arriving digest joins the index
    // regardless of kept/dropped, so the index after phase A equals
    // t36's old side exactly. With the stream STOPPED, compactIndex
    // folds the two committed batch partitions into one (the frontier
    // check consults the run marker's checkpoint). Phase B RESUMES the
    // SAME checkpoint on a newly landed file: the NEW docs probe the
    // COMPACTED index as batch 2, so any digest or band lost (or
    // duplicated) in compaction — or a broken resume — changes the kept
    // set and fails the hash against t36's keep rule.
    "p23_pipeline_streaming_incremental_index" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.t(spark, dir, "documents")
          .withColumn("is_new",
            expr("CAST(substr(source, 4, 10) AS INT) >= 10"))
        val replay = new Replay("graft_p23", docs.withColumn("__c",
            when(!col("is_new"), (pmod(col("doc_id"), lit(2)) + 1).cast("int"))
              .otherwise(lit(3)))
          .select(col("__c"), col("doc_id"), col("text")), 3)
        val statePath = replay.tmp.resolve("state").toString
        def runAvailable(): Unit = {
          val q = graft.streaming.Streams.incrementalDedup(replay.stream,
            statePath, replay.out, replay.ckpt, Trigger.AvailableNow())
          try q.awaitTermination() finally q.stop()
        }
        withStatePartitions(spark) {
          replay.land(1); replay.land(2)
          runAvailable() // phase A: old docs as batches 0 and 1
          // stream stopped at the commit frontier (last committed 1):
          // fold both index partitions into batch=1
          graft.streaming.Streams.compactIndex(spark, statePath, 2L)
          replay.land(3)
          runAvailable() // phase B: resume; new docs probe as batch 2
        }
        spark.read.parquet(s"${replay.out}/batch=2")
          .select(col("doc_id")).orderBy("doc_id")
      },
      // t36's oracle restricted to its keep verdict: the docs phase B
      // must emit are exactly the new docs with no exact- or band-hit
      // against the old corpus
      Some(s"""${Curation.incrementalDedupDuck}
              |SELECT f.doc_id FROM flag f
              |LEFT JOIN exact e ON e.doc_id = f.doc_id
              |LEFT JOIN near n ON n.doc_id = f.doc_id
              |WHERE f.is_new AND e.doc_id IS NULL AND n.doc_id IS NULL
              |ORDER BY f.doc_id""".stripMargin)),

    // ----------------------------------------------------------------- p24
    // STREAMING RATE-ANOMALY GATE — puts Streams.rateAnomaly (the
    // monitoring op a streaming ingest user hits first) through the
    // DuckDB hash gate, the p20/p22/p23 pattern: a REAL multi-micro-
    // batch file-source replay with windowed state crossing batch
    // commits, hashed against batch t68's oracle verbatim. The
    // (mean, std) reference is published by a batch pass over the same
    // history — the deployment split the op documents (heavy moments
    // offline, cheap z-probe online) — with t68's exact
    // long-sum/double-division arithmetic, so the streamed z doubles
    // are bit-identical to the batch twin's.
    //
    // Fixture prep (NOT the measured operator, p22's discipline): the
    // events fixture splits into 2 contiguous TIME-RANGE chunks via one
    // min/max agg + a map-side projection (no global ntile window), so
    // the watermark only ever advances between micro-batches — nothing
    // is late, matching the batch twin that counts everything. Two data
    // batches are the minimum that proves window state CROSSING a
    // micro-batch commit (boundary windows receive rows from both); a
    // 3rd sentinel file (one far-future 'flush' event) pushes the
    // event-time frontier past every fixture window + watermark so
    // append mode emits them all. The sentinel itself can never
    // surface — its own window is still open at stream end, and
    // 'flush' has no thresholds row to join.
    "p24_pipeline_streaming_rate_anomaly" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        val ev = Tables.t(spark, dir, "events")
          .select("event_id", "ts", "user_id", "event_type", "value")
        // chunked before thresholds persists, so a fixture that cannot
        // replay leaves nothing cached
        val (chunked, maxTs) = timeChunks(ev)
        // thresholds exactly as the batch job publishes them: per-type
        // (mean, std) over hourly counts — t68's moment arithmetic
        // (exact long sums, then double division)
        val thresholds = ev
          .groupBy(col("event_type"),
            date_trunc("hour", col("ts")).as("hour"))
          .agg(count(lit(1)).as("c"))
          .groupBy("event_type").agg(
            count(lit(1)).as("n"), sum("c").as("s1"),
            sum(col("c") * col("c")).as("s2"))
          .withColumn("mean",
            col("s1").cast("double") / col("n").cast("double"))
          .withColumn("std", sqrt(
            col("s2").cast("double") / col("n").cast("double")
              - col("mean") * col("mean")))
          .select("event_type", "mean", "std")
          // a static frame in a stream-static join is re-evaluated on
          // EVERY micro-batch plan; persist the |types|-row result for
          // the stream's lifetime (production publishes it as a table)
          .persist()
        val sentinel = spark.range(1)
          .select(lit(-1L).as("event_id"),
            lit(new java.sql.Timestamp(maxTs.getTime + 86400000L)).as("ts"),
            lit(0L).as("user_id"), lit("flush").as("event_type"),
            lit(0.0).as("value"), lit(3).as("__c"))
        val alerts =
          try new Replay("graft_p24", chunked.unionByName(sentinel), 3)
            .toParquet(graft.streaming.Streams.rateAnomaly(_, thresholds))
          finally thresholds.unpersist()
        alerts
          .select(col("event_type"), col("window.start").as("hour"),
            col("n").as("c"), col("mean"), col("std"), col("z"))
          .orderBy("event_type", "hour")
      },
      // batch t68's oracle VERBATIM — the whole point of the gate
      Curation.defs("t68_event_rate_anomaly").oracle),

    // ----------------------------------------------------------------- p25
    // BLOOM-PREFILTER DECONTAMINATION INGEST THROUGH THE ORACLE GATE —
    // the last cheaply-gateable streaming op that was only pinned by
    // StreamingSpec equivalence (r16 verdict residual #2):
    // `streamingDecontaminateBloom`, the corpus-scale face of p22's
    // decontaminator (Bloom sketch prunes map-side; only positives
    // reach the exact verify join against the distributed eval gram
    // table — t43's dataflow at ingest time). The stream replays p22's
    // fixture shape (training docs split into 2 micro-batches by id
    // parity; eval docs never enter the stream) through a REAL
    // foreachBatch run — two batches prove the gram index frame and the
    // Bloom binary literal survive foreachBatch's cloned session across
    // a checkpoint commit, and that per-batch outputs land as batch=N
    // partitions. Kept set = train docs with NO 13-gram in the eval
    // set: the ANY-hit rule p22's oracle spells out (Bloom false
    // positives die in the verify join, false negatives are impossible,
    // so the sketch is invisible to the oracle — the same equivalence
    // t43 proves for the batch twin). No dedup leg and no sentinel:
    // decontamination is stateless per batch and emits immediately.
    "p25_pipeline_streaming_decon_bloom" -> QueryDef(
      (spark, dir) => {
        import org.apache.spark.sql.functions._
        val docs = Tables.t(spark, dir, "documents")
          .filter(col("doc_id") % 50 =!= 0) // eval docs never ingest
          .select(col("doc_id"), col("text"))
        val evalDocs = Tables.t(spark, dir, "documents")
          .filter(col("doc_id") % 50 === 0).select("text")
        val replay = new Replay("graft_p25", docs
          .withColumn("__c", (pmod(col("doc_id"), lit(2)) + 1).cast("int")), 2)
        // the per-batch verify/anti joins shuffle a fixture-sized batch
        withStatePartitions(spark) {
          replay.landAll()
          // capacity for the eval side's distinct 13-grams at ~8 bits
          // per item (t43's sizing: ~2% FP — FPs cost verify rows only)
          // the op starts a CONTINUOUS stream (its deployment shape —
          // an ingest gate waits for more files); the gate drains the
          // two staged batches and stops, the same way StreamingSpec
          // drives the other continuous ops
          val q = graft.streaming.Streams.streamingDecontaminateBloom(
            replay.stream, "doc_id", "text", evalDocs, "text",
            replay.out, replay.ckpt, expectedItems = 100000L)
          try q.processAllAvailable() finally q.stop()
        }
        spark.read.parquet(replay.out)
          .select(col("doc_id"),
            md5(col("text").cast("binary")).as("content_hash"))
          .orderBy("doc_id")
      },
      // p22's ANY-hit 13-gram rule, minus the dedup leg (no clones in
      // this fixture): kept = clean training docs, keyed by doc_id
      Some(s"""$evalGramsDirtyDuck
             |SELECT doc_id, md5(text) AS content_hash
             |FROM d
             |WHERE doc_id % 50 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM dirty)
             |ORDER BY doc_id""".stripMargin))
  )
}
