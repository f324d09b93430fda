package graft.connections

import java.sql.DriverManager
import java.util.Properties
import org.apache.spark.sql.DataFrame
import graft.sqlbridge.SqlBridge

/** ClickHouse locator rules (reference: Clickhouse.locate,
  * ankaflow/connections/clickhouse.py:114-143): a dotted locator carries
  * its own database and the config must NOT also set one; a bare locator
  * requires the config database. */
object ClickhouseLocate {
  def locate(locator: String, database: Option[String],
      quote: String => String = IdQuote.doubleQuote): String = {
    val db = database.filter(_.nonEmpty)
    if (locator.contains(".")) {
      val parts = locator.split("\\.")
      if (parts.length != 2)
        throw new IllegalArgumentException(s"Invalid locator format: $locator")
      if (db.isDefined)
        throw new IllegalArgumentException(
          s"Locator '$locator' must not include a database prefix when 'database' is set.")
      s"${quote(parts(0))}.${quote(parts(1))}"
    } else {
      val d = db.getOrElse(throw new IllegalArgumentException(
        s"Locator '$locator' must include a database prefix when 'database' is not set."))
      s"${quote(d)}.${quote(locator)}"
    }
  }
}

/** Identifier quoting per remote dialect. ANSI double quotes are the
  * default (DuckDB/ClickHouse/Derby/Postgres all accept them); HiveQL /
  * Spark SQL endpoints (`jdbc:hive2:`) need backticks — Spark SQL reads a
  * double-quoted token as a string literal unless ANSI mode is on. */
object IdQuote {
  val doubleQuote: String => String = s => "\"" + s.replace("\"", "\"\"") + "\""
  val backtick: String => String = s => "`" + s.replace("`", "``") + "`"

  def forUrl(jdbcUrl: String): String => String =
    if (jdbcUrl.startsWith("jdbc:hive2:")) backtick else doubleQuote

  /** Spark's JDBC reader/writer also quote identifiers (schema probe,
    * partition predicates, CREATE TABLE) through a [[JdbcDialect]]; no
    * built-in dialect handles hive2, so register a backtick one once. */
  private val hiveDialectRegistered = new java.util.concurrent.atomic.AtomicBoolean(false)
  def ensureHiveDialect(): Unit =
    if (hiveDialectRegistered.compareAndSet(false, true))
      org.apache.spark.sql.jdbc.JdbcDialects.registerDialect(
        new org.apache.spark.sql.jdbc.JdbcDialect {
          override def canHandle(url: String): Boolean = url.startsWith("jdbc:hive2:")
          override def quoteIdentifier(colName: String): String = backtick(colName)
        })
}

/** Remote ranked-dedup query in the shape the reference generates
  * (build_ranked_query, ankaflow/common/util.py:336-383): the ROW_NUMBER
  * runs on the REMOTE system, so dedup happens at the source and only
  * surviving rows cross the wire — the reference's one genuine pushdown,
  * preserved because it matters even more at 100 TB. */
object RemoteRank {
  import graft.sqlbridge.SqlText._

  def apply(query: String, selectable: String, version: Option[String],
      keys: Seq[String], quote: String => String = IdQuote.doubleQuote): String = {
    val toks = SqlBridge.swapFromTable(tokenize(query), selectable)
    (version, keys) match {
      case (Some(v), ks) if ks.nonEmpty =>
        // split at the TOP-LEVEL FROM (not the `from` inside e.g.
        // extract(month from dt) or a string literal)
        val sel = topLevel(toks)(i => isWord(toks(i), "select"))
        val from = topLevel(toks)(i => isWord(toks(i), "from"))
        if (sel < 0 || from <= sel)
          sys.error(s"cannot rank query without top-level SELECT ... FROM: $query")
        val selectList = render(toks.slice(sel + 1, from)).trim
        val rest = render(toks.slice(from, toks.length))
        val partition = ks.map(quote).mkString(", ")
        s"""SELECT * FROM (SELECT $selectList, ROW_NUMBER() OVER (PARTITION BY $partition ORDER BY ${quote(v)} DESC) AS __rank__ $rest) AS ranked WHERE ${quote("__rank__")} = 1"""
      case _ => render(toks)
    }
  }
}

/** BigQuery load-job disposition mapping (reference:
  * _build_load_config_from_modes, ankaflow/connections/bigquery.py:285-320). */
object BigQueryDispositions {
  def writeDisposition(dataMode: String): String = dataMode match {
    case "append" => "WRITE_APPEND"
    case "overwrite" => "WRITE_TRUNCATE"
    case _ => "WRITE_EMPTY" // "error" fallback
  }

  def schemaUpdateOptions(schemaMode: String): List[String] =
    if (schemaMode == "merge") List("ALLOW_FIELD_ADDITION") else Nil
}

/** External SQL systems behind JDBC (SURVEY §2.2: ClickHouse, BigQuery).
  *
  * The tap query is mandatory and uses the connection kind as placeholder
  * table (`SELECT ... FROM Clickhouse`); the whole statement — including
  * the versioned-dedup ranking — executes on the REMOTE system, and Spark
  * reads the result as a JDBC subquery. Scale notes:
  *  - `blocksize` (reference default 50 000,
  *    ankaflow/connections/clickhouse.py:19) maps to JDBC
  *    fetchsize/batchsize — the same streaming contract;
  *  - `partition_column`/`num_partitions`/`lower_bound`/`upper_bound`
  *    enable Spark-side parallel reads (N executors each pull a key
  *    range), which the single-threaded reference cannot do.
  *
  * Network-gated like the reference's env-gated integration tests: the
  * pure logic (locate rules, ranking text, dispositions) is unit-tested
  * offline; actual transfer needs a live server + driver jar.
  */
abstract class ExternalSqlConnection(ctx: ConnContext) extends Connection(ctx) {

  protected def config: Map[String, Any] = conn.map("config")
  protected def cfgStr(k: String): Option[String] =
    config.get(k).collect { case v if v != null => v.toString }

  /** JDBC endpoint for the remote system. */
  protected def jdbcUrl: String
  /** The remote table reference the placeholder swaps to. */
  protected def locatedTable: String
  /** Placeholder table name in user queries (e.g. "Clickhouse"). */
  protected def placeholder: String

  protected def blocksize: Int =
    cfgStr("blocksize").map(_.toInt).getOrElse(50000)

  /** Identifier quoting for SQL we GENERATE for the remote (ranking,
    * located tables); user-authored query text passes through untouched. */
  protected def idQuote: String => String = IdQuote.forUrl(jdbcUrl)

  protected def jdbcProps: Properties = {
    val p = new Properties()
    cfgStr("username").foreach(p.setProperty("user", _))
    cfgStr("password").foreach(p.setProperty("password", _))
    cfgStr("driver").foreach(p.setProperty("driver", _))
    p
  }

  /** Build the full remote statement: placeholder swap + remote ranking +
    * limit — all pushed to the source. The limit clause is dialect-aware:
    * ANSI `FETCH FIRST n ROWS ONLY` for engines that lack LIMIT (Derby),
    * `LIMIT n` elsewhere (ClickHouse has no FETCH FIRST). */
  def remoteQuery(query: String, limit: Option[Int]): String = {
    val ranked = RemoteRank(query, locatedTable, conn.version, conn.keys, idQuote)
    limit.map { n =>
      val clause =
        if (jdbcUrl.startsWith("jdbc:derby:")) s"FETCH FIRST $n ROWS ONLY"
        else s"LIMIT $n"
      s"SELECT * FROM ($ranked) AS graft_limited $clause"
    }.getOrElse(ranked)
  }

  override def tap(query: Option[String], limit: Option[Int]): DataFrame = {
    IdQuote.ensureHiveDialect()
    val q = query.getOrElse(
      sys.error(s"${conn.kind} tap requires a query (placeholder FROM $placeholder)"))
    val remote = remoteQuery(q, limit)
    val reader = spark.read
      .option("fetchsize", blocksize.toString)
    val partitioned = (conn.str("partition_column"), conn.int("num_partitions")) match {
      case (Some(col), Some(n)) =>
        reader.option("partitionColumn", col)
          .option("numPartitions", n.toString)
          .option("lowerBound", conn.str("lower_bound").getOrElse("0"))
          .option("upperBound", conn.str("upper_bound").getOrElse(n.toString))
      case _ => reader
    }
    partitioned.jdbc(jdbcUrl, s"($remote) AS graft_remote", jdbcProps)
  }

  override def sink(from: DataFrame): Unit = {
    IdQuote.ensureHiveDialect()
    from.write.mode(saveMode)
      .option("batchsize", blocksize.toString)
      .jdbc(jdbcUrl, locatedTable, jdbcProps)
  }

  /** Raw statement on the remote system (the reference's `sql` stage). */
  override def sqlStmt(stmt: String): Option[DataFrame] = {
    val c = DriverManager.getConnection(jdbcUrl, jdbcProps)
    try {
      val st = c.createStatement()
      try { st.execute(stmt); None }
      finally st.close()
    } finally c.close()
  }

  override def showSchema(): org.apache.spark.sql.types.StructType =
    spark.read.option("fetchsize", "100")
      .jdbc(jdbcUrl, s"(SELECT * FROM $locatedTable LIMIT 100) AS graft_preview",
        jdbcProps).schema
}

final class ClickhouseConnection(ctx: ConnContext)
  extends ExternalSqlConnection(ctx) {

  override protected def placeholder: String = "Clickhouse"

  override protected def jdbcUrl: String =
    cfgStr("jdbc_url").getOrElse {
      val host = cfgStr("host").getOrElse("localhost")
      val port = cfgStr("port").getOrElse("8123")
      val db = cfgStr("database").map("/" + _).getOrElse("")
      s"jdbc:clickhouse://$host:$port$db"
    }

  override protected def locatedTable: String =
    ClickhouseLocate.locate(locator, cfgStr("database"), idQuote)
}

final class BigQueryConnection(ctx: ConnContext)
  extends ExternalSqlConnection(ctx) {

  override protected def placeholder: String = "Bigquery"

  /** BigQuery has no offline driver; a `jdbc_url` (e.g. a Simba bridge)
    * makes the generic path work, otherwise transfer raises with the load
    * config the reference would have used — keeping the decision logic
    * (the part worth testing) live. */
  override protected def jdbcUrl: String = cfgStr("jdbc_url").getOrElse(
    sys.error("BigQuery transfer requires config.jdbc_url " +
      s"(write_disposition=${BigQueryDispositions.writeDisposition(dataMode)}, " +
      s"schema_update=${BigQueryDispositions.schemaUpdateOptions(conn.str("schema_mode").getOrElse("")).mkString(",")})"))

  override protected def locatedTable: String = {
    val project = cfgStr("project")
    val dataset = cfgStr("dataset")
    val parts = locator.split("\\.")
    if (parts.length == 3) s"`$locator`"
    else if (parts.length == 2) project.map(p => s"`$p.$locator`").getOrElse(s"`$locator`")
    else (project, dataset) match {
      case (Some(p), Some(d)) => s"`$p.$d.$locator`"
      case _ => sys.error(
        s"BigQuery locator '$locator' needs config.project and config.dataset")
    }
  }
}
