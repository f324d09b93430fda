package graft.connections

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, DataFrameReader, Encoders, SaveMode, SparkSession}
import graft.model.{ColumnDef, ConnectionDef}

/** One file format's Spark settings: `reads` apply to every read; when
  * the format is `typed`, declared `fields` set the schema (skipping the
  * inference pass — the reference's `columns=` read option serves the
  * same purpose, rest/common.py:70-79), otherwise `infers` apply;
  * `writes` apply to every write, which always overwrites. Caller
  * passthrough options land after `reads`/`writes`, so they override. */
final case class FileFormat(
    name: String,
    source: String,
    reads: Map[String, String],
    typed: Boolean = false,
    infers: Map[String, String] = Map.empty,
    writes: Map[String, String] = Map.empty) {

  def reader(spark: SparkSession, fields: Seq[ColumnDef] = Nil,
      passthrough: Map[String, String] = Map.empty): DataFrameReader = {
    val r = spark.read.format(source).options(reads).options(passthrough)
    if (typed && fields.nonEmpty) r.schema(SchemaUtil.toStruct(fields))
    else r.options(infers)
  }

  def read(spark: SparkSession, path: String, fields: Seq[ColumnDef] = Nil,
      passthrough: Map[String, String] = Map.empty): DataFrame =
    reader(spark, fields, passthrough).load(path)

  def write(df: DataFrame, path: String,
      passthrough: Map[String, String] = Map.empty): Unit =
    df.write.mode(SaveMode.Overwrite).format(source).options(writes)
      .options(passthrough).save(path)
}

/** The one table of file formats every file-opening site reads from:
  * the typed connections, `File`'s filetype dispatch, raw-dispatch table
  * functions, REST downloads and the CLI's `-o` writer (reference
  * defaults, file.py:39-118: `union_by_name=true` ≈ `mergeSchema`,
  * `ignore_errors=true` ≈ PERMISSIVE, header on both CSV directions like
  * DuckDB COPY, JSON an array document unless read as lines). */
object FileFormats {
  val parquet = FileFormat("parquet", "parquet", Map("mergeSchema" -> "true"))
  val orc = FileFormat("orc", "orc", Map("mergeSchema" -> "true"))
  val csv = FileFormat("csv", "csv",
    Map("header" -> "true", "mode" -> "PERMISSIVE"), typed = true,
    infers = Map("inferSchema" -> "true"), writes = Map("header" -> "true"))
  val json = FileFormat("json", "json", Map("multiLine" -> "true"), typed = true)
  val jsonl = FileFormat("jsonl", "json", Map("multiLine" -> "false"), typed = true)
  val text = FileFormat("text", "text", Map.empty)

  val all: Seq[FileFormat] = Seq(parquet, orc, csv, json, jsonl, text)

  /** Format by name (`txt` is `text`); names are matched exactly. */
  val byName: Map[String, FileFormat] =
    all.map(f => f.name -> f).toMap + ("txt" -> text)

  /** Connection kinds (lowercased) served by [[FormatConnection]]. */
  val kinds: Map[String, FileFormat] =
    Map("parquet" -> parquet, "orc" -> orc, "csv" -> csv, "json" -> json)

  /** A typed connection's format; JSON's `format: lines` reads JSONL. */
  def of(conn: ConnectionDef): FileFormat = conn.kind.toLowerCase match {
    case "json" if conn.str("format").contains("lines") => jsonl
    case k => kinds(k)
  }

  /** The visible parquet files under `root`, qualified, at most `limit`
    * of them (none when `root` does not exist). This is the one rule for
    * which files of a table directory are data. It is Spark's
    * hidden-path filter (HadoopFSUtils.shouldFilterOutPathName): skip
    * any file under a '.'-prefixed segment (a .crc sidecar) or a
    * '_'-prefixed one without '=' (a leftover _temporary dir from an
    * interrupted write, a version log); a hive partition dir on a
    * '_'-prefixed column, `_d=1`, stays visible. Spark's reader never sees
    * those rows, so listing them would diverge a footer count from
    * `count()` — and silently shift t26's kCells vs the DuckDB oracle
    * (r16 ADVICE). Only segments BELOW the root count: a dotted dir in
    * the base path itself, e.g. /home/u/.cache/tbl, must not hide the
    * table. The root is compared as a QUALIFIED Path (r17 ADVICE):
    * listFiles returns fully-qualified paths, so a relative or
    * scheme-less root would never match, the upward walk would escape
    * the table root, and a dotted ANCESTOR (e.g. a hidden cwd) would
    * silently hide every part file. Listing stops at `limit`, so a
    * caller with a file budget never walks a 100 TB table's thousands
    * of part files. */
  private[graft] def parquetFiles(fs: FileSystem, root: Path,
      limit: Int = Int.MaxValue): Seq[Path] = {
    if (!fs.exists(root)) return Nil
    val qualifiedRoot = fs.makeQualified(root)
    def hidden(f: Path): Boolean = {
      var cur = f
      var h = false
      while (cur != null && cur != qualifiedRoot && !h) {
        val n = cur.getName
        if (n.startsWith(".") || (n.startsWith("_") && !n.contains("="))) h = true
        cur = cur.getParent
      }
      h
    }
    val files = scala.collection.mutable.ArrayBuffer.empty[Path]
    val it = fs.listFiles(qualifiedRoot, true)
    while (it.hasNext && files.size < limit) {
      val f = it.next().getPath
      if (f.getName.endsWith(".parquet") && !hidden(f)) files += f
    }
    files.toSeq
  }

  /** Total row count of parquet `files` from their footers: a
    * driver-side metadata read, the way DuckDB answers COUNT(*). */
  private[graft] def parquetFooterRows(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[Path]): Long =
    files.map { f =>
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, conf))
      try r.getRecordCount finally r.close()
    }.sum

  /** JSON documents held on the driver (REST records, Variable values)
    * → a frame; declared `fields` set the schema. */
  def jsonRows(spark: SparkSession, rows: Seq[String],
      fields: Seq[ColumnDef] = Nil): DataFrame =
    jsonl.reader(spark, fields).json(spark.createDataset(rows)(Encoders.STRING))
}
