package graft.connections

import org.apache.spark.sql.DataFrame
import graft.template.Json

/** Parquet, ORC, CSV and JSON sources/sinks (reference:
  * ankaflow/connections/file.py:39-118), one class over the
  * [[FileFormats]] table. ORC goes beyond the reference's format set
  * (DuckDB has no ORC reader); Spark's columnar ORC reader gives it the
  * same pushdown and pruning as parquet. Every non-engine param passes
  * through to the reader and writer; declared `fields` set the CSV/JSON
  * schema. JSON reads an array document (DuckDB read_json_auto) unless
  * `format: lines`; sinks write newline-delimited JSON like the reference
  * (models/core.py:215). The reference writes a single file; Spark
  * writes a directory — kept (scale-correct), documented in SURVEY §2.2. */
final class FormatConnection(ctx: ConnContext) extends Connection(ctx) {
  private val format = FileFormats.of(conn)

  override def tap(query: Option[String], limit: Option[Int]): DataFrame =
    finishTap(format.read(spark, path, conn.fields, passthroughOptions),
      query, limit)

  override def sink(from: DataFrame): Unit =
    format.write(from, path, passthroughOptions)
}

/** Generic file reader (file.py:121-180): dispatch by `filetype` param or
  * path suffix. The [[FileFormats]] kinds distribute through Spark readers;
  * xlsx/xml/html parse driver-side (small-ingest formats, exactly how the
  * reference's pandas readers work — see [[TabularFiles]]). Read-only. */
final class FileConnection(ctx: ConnContext) extends Connection(ctx) {
  override def tap(query: Option[String], limit: Option[Int]): DataFrame = {
    // runtime context overrides: FileName replaces the locator, FileType
    // the kind — the reference's per-run file dispatch (file.py:124-131)
    val file = ctx.context.get("FileName").map(v =>
      Locator.locate(String.valueOf(v), ctx.cfg)).getOrElse(path)
    val ftype = ctx.context.get("FileType").map(String.valueOf(_).toLowerCase)
      .orElse(conn.str("filetype")).getOrElse(
        file.reverse.takeWhile(_ != '.').reverse.toLowerCase)
    val raw = ftype match {
      case f if FileFormats.byName.contains(f) =>
        FileFormats.byName(f).read(spark, file)
      // spreadsheet/markup kinds parse driver-side like the reference's
      // pandas readers (file.py:136-147) — see TabularFiles scaladoc
      case "xlsx" => TabularFiles.readXlsx(spark, file)
      case "xml" => TabularFiles.readXml(spark, file)
      case "html" | "htm" => TabularFiles.readHtml(spark, file)
      case other => throw new UnsupportedOperationException(
        s"File connection: unsupported filetype '$other'")
    }
    finishTap(raw, query, limit)
  }

  override def sink(from: DataFrame): Unit =
    throw new UnsupportedOperationException("File connection is read-only")
}

/** Variable tap/sink (file.py:17-36): sink stores the previous stage's
  * rows into the shared variables map; tap materializes a stored value
  * back into a DataFrame. JSON is the interchange (like the reference's
  * json.dumps → read_json round trip). */
final class VariableConnection(ctx: ConnContext) extends Connection(ctx) {
  private def varName: String = locator

  override def tap(query: Option[String], limit: Option[Int]): DataFrame = {
    val value = ctx.variables.getOrElse(varName,
      sys.error(s"Variable '$varName' is not set"))
    val jsonRows: Seq[String] = value match {
      case l: Seq[_] => l.map(Json.write)
      case m: Map[_, _] => Seq(Json.write(m))
      case s: String => Seq(s)
      case other => Seq(Json.write(other))
    }
    finishTap(FileFormats.jsonRows(spark, jsonRows), query, limit)
  }

  override def sink(from: DataFrame): Unit = {
    val rows = graft.core.Flow.guardedCollect(from,
      s"Variable sink '$varName'", ctx.cfg.maxDriverRows)
      .toList.map(Json.parse)
    ctx.variables.put(varName, rows)
  }
}
