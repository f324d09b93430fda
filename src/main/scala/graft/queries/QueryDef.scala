package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.SessionMemo

/** A named query exposed through [[graft.SparkEntry]].
  *
  * @param build     builds the result DataFrame from a scale-factor
  *                  directory containing the driver-generated parquet
  *                  tables — the PRODUCTION shape, without any trailing
  *                  sort that exists only for hash determinism
  * @param oracle    equivalent DuckDB SQL over the same tables (None →
  *                  the driver records a weaker rows-only check)
  * @param hashOrder columns of the corpus-wide ORDER BY the driver's
  *                  deterministic hash compare needs (t27's rule). Kept
  *                  OUT of `build` when the sort is pure gate overhead —
  *                  it RangePartitions a corpus-sized frame a production
  *                  pipeline would consume unsorted — and applied by
  *                  [[gated]] only. Empty = `build` already returns the
  *                  gate shape (its order is part of the semantics, or
  *                  the output is small enough that the sort is free).
  */
final case class QueryDef(
    build: (SparkSession, String) => DataFrame,
    oracle: Option[String],
    hashOrder: Seq[String] = Nil) {

  /** Gate shape: the production frame plus the deterministic sort the
    * oracle-hash compare requires. This is what the driver runs. */
  def gated: (SparkSession, String) => DataFrame =
    if (hashOrder.isEmpty) production
    else (s, d) => production(s, d)
      .orderBy(hashOrder.map(org.apache.spark.sql.functions.col): _*)

  /** Production shape: no gate-only corpus-wide sort. Library users
    * embedding the stage in a pipeline consume this one. The caller's
    * session may come from outside [[graft.core.GraftSession]], so the
    * engine's SQL functions are ensured here, once per call. */
  def production: (SparkSession, String) => DataFrame = { (s, d) =>
    graft.functions.GraftFunctions.ensure(s)
    build(s, d)
  }
}

object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Exact row count of a parquet table from its file FOOTERS
    * ([[graft.connections.FileFormats.parquetFooterRows]]) over the
    * files a read sees ([[graft.connections.FileFormats.parquetFiles]]),
    * replacing a whole Spark job when a query needs only N (t26's k
    * choice). Returns None when the listing exceeds `maxFiles`: a 100 TB
    * table has thousands of part files and a serial driver loop over
    * remote footers would take longer than the distributed count() it
    * replaces, so past the threshold the caller falls back to the job.
    * Footer record counts are exact (parquet metadata is authoritative),
    * so either path yields the same N. */
  def parquetRowCount(spark: SparkSession, path: String,
      maxFiles: Int = 64): Option[Long] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(conf)
    if (!fs.exists(p)) return None
    val files = graft.connections.FileFormats.parquetFiles(fs, p, maxFiles + 1)
    if (files.size > maxFiles) None
    else Some(graft.connections.FileFormats.parquetFooterRows(conf, files))
  }

  /** Row count of fixture table `table` under `dir`: the footer count
    * ([[parquetRowCount]]), else a count job over [[t]]'s frame. */
  private[queries] def rowCount(spark: SparkSession, dir: String,
      table: String): Long =
    parquetRowCount(spark, s"$dir/$table.parquet")
      .getOrElse(t(spark, dir, table).count())

  /** Memoized per (session, dir, table): `spark.read.parquet` re-lists the
    * directory and re-reads footers on every call, which across 40+ bench
    * queries is pure fixed overhead. DataFrames are immutable plans, so
    * reuse is safe. */
  private val cache = new SessionMemo[(String, String), DataFrame]

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    cache(spark, (dir, name)) {
      if (name == "events") events(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet")
    }

  /** Schema-adaptive events reader. The fixture generator has emitted
    * `ts` as parquet TIMESTAMP(NANOS) in some rounds and timestamp[us]
    * (no tz → TIMESTAMP_NTZ in Spark) in others, so we branch on the
    * physical type actually read instead of hard-coding one shim:
    *
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it outright,
    *    so the `nanosAsLong` legacy conf (set before the read) surfaces it
    *    as LongType; truncate ns→µs exactly as DuckDB does on scan so
    *    oracle comparisons line up. Integer division (`div`) is required:
    *    a double roundtrip would lose precision above 2^53 ns.
    *  - TIMESTAMP_NTZ (µs, no tz): cast to session-local TIMESTAMP — the
    *    session timezone is pinned to UTC, so the cast is value-preserving
    *    and matches DuckDB's naive-timestamp semantics.
    *  - TIMESTAMP: already what every query expects; pass through.
    *
    * All events reads (queries, pipelines, tests) must go through here so
    * any future fixture drift has exactly one blast radius. */
  /** Session conf needed so an events fixture with TIMESTAMP(NANOS) still
    * reads (as LongType) instead of failing the scan. A µs/NTZ fixture is
    * unaffected. Every events read outside [[events]] (engine taps in
    * pipelines/tests) must delegate here rather than setting the conf
    * itself, so fixture-drift handling lives in exactly one file. */
  def ensureEventsReadable(spark: SparkSession): Unit =
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")

  def events(spark: SparkSession, dir: String): DataFrame = {
    ensureEventsReadable(spark)
    val raw = spark.read.parquet(s"$dir/events.parquet")
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType    => raw
      case other => throw new IllegalStateException(
        s"events.ts read as unsupported type $other; extend Tables.events")
    }
  }

  /** Register every fixture table as a temp view so spark.sql queries can
    * use the same table names the DuckDB oracle sees. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    all.foreach(n => t(spark, dir, n).createOrReplaceTempView(n))
}
