package graft.connections

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types._
import graft.model.{ColumnDef, ConnectionDef}
import graft.sqlbridge.SqlBridge
import graft.sqlbridge.SqlBridge.NameRegistry

/** Flow-level connection configuration (reference:
  * ankaflow/models/configs.py:150-203). `bucket` + `dataPrefix` resolve
  * relative locators; `locatorWildcards` are (regex, replacement) rewrites
  * applied first (configs.py:17-40); `hadoopConf` carries per-bucket cloud
  * credentials (the Spark equivalent of the reference's scoped CREATE
  * SECRET wiring, ankaflow/internal/server.py:98-169). */
final case class FlowConfig(
    bucket: Option[String] = None,
    dataPrefix: Option[String] = None,
    locatorWildcards: List[(String, String)] = Nil,
    hadoopConf: Map[String, String] = Map.empty,
    /** Flow-level fallback for per-connection `config:` blocks (the
      * reference's default_connection, ankaflow/core/flow.py:97-98);
      * same shape as the per-connection map — see [[CloudSecrets]]. */
    defaultConnection: Map[String, Any] = Map.empty,
    /** Named OAuth2 providers REST auth can reference by name (the
      * reference's oauth_keyring — see [[OAuth2Provider]]). */
    oauthKeyring: Seq[OAuth2Provider] = Nil,
    /** Cap on rows any driver-side materialization (loop control rows,
      * Variable sinks) may pull. The reference does unbounded df()
      * pulls at these spots; at cluster scale an accidental million-row
      * loop should fail fast with a clear message, not OOM an executor
      * or the driver. Raise per flow when genuinely needed. */
    maxDriverRows: Int = 100000)

/** Everything a connection needs at execution time. `context` is the
  * caller-supplied runtime context (the reference's `self.ctx` — e.g.
  * `FileName`/`FileType` overrides for the File connection,
  * file.py:124-131). */
final case class ConnContext(
    spark: SparkSession,
    conn: ConnectionDef,
    cfg: FlowConfig,
    variables: scala.collection.mutable.Map[String, Any],
    names: NameRegistry,
    context: Map[String, Any] = Map.empty)

/** Locator → concrete path resolution (reference: Locator.locate,
  * ankaflow/connections/connection.py:40-121). */
object Locator {
  def isAbsolute(loc: String): Boolean =
    loc.startsWith("/") || loc.contains("://")

  def locate(locator: String, cfg: FlowConfig): String = {
    val rewritten = cfg.locatorWildcards.foldLeft(locator) {
      case (acc, (re, repl)) => acc.replaceAll(re, repl)
    }
    if (isAbsolute(rewritten)) rewritten
    else {
      val parts = List(cfg.bucket, cfg.dataPrefix, Some(rewritten)).flatten
        .map(_.stripSuffix("/"))
      parts.mkString("/")
    }
  }
}

/** Declared-schema handling: reference engine types → Spark types
  * (ankaflow/common/util.py:256-332; SURVEY.md §1.2). */
object SchemaUtil {
  def toSparkType(t: String): DataType = {
    val up = t.trim.toUpperCase
    up match {
      case "VARCHAR" | "TEXT" | "STRING" | "JSON" | "UUID" => StringType
      case "BIGINT" | "INT8" | "LONG" | "UBIGINT" => LongType
      case "INTEGER" | "INT" | "INT4" => IntegerType
      case "SMALLINT" | "INT2" => ShortType
      case "TINYINT" | "INT1" => ByteType
      case "DOUBLE" | "FLOAT8" => DoubleType
      case "FLOAT" | "REAL" | "FLOAT4" => FloatType
      case "BOOLEAN" | "BOOL" => BooleanType
      case "TIMESTAMP" | "DATETIME" => TimestampType
      case "DATE" => DateType
      case "TIME" => StringType // no TIME type in Spark; stored as string
      case "INTERVAL" => DayTimeIntervalType()
      case "BLOB" | "BINARY" | "BYTEA" => BinaryType
      case s if s.startsWith("DECIMAL") || s.startsWith("NUMERIC") =>
        val dims = "\\((\\d+)\\s*,\\s*(\\d+)\\)".r.findFirstMatchIn(s)
        dims.map(m => DecimalType(m.group(1).toInt, m.group(2).toInt))
          .getOrElse(DecimalType(38, 18))
      case s if s.endsWith("[]") =>
        ArrayType(toSparkType(s.dropRight(2)))
      case s if s.startsWith("LIST(") && s.endsWith(")") =>
        ArrayType(toSparkType(s.substring(5, s.length - 1)))
      case s if s.startsWith("STRUCT") =>
        // STRUCT(a T, b U) — lean on Spark's DDL parser
        try DataType.fromDDL(t) catch {
          case _: Exception => StringType
        }
      case _ =>
        try DataType.fromDDL(t) catch { case _: Exception => StringType }
    }
  }

  def toStruct(fields: Seq[ColumnDef]): StructType =
    StructType(fields.map(f => StructField(f.name, toSparkType(f.dtype))))
}

/** The connection contract (reference: connection.py:371-397). */
abstract class Connection(protected val ctx: ConnContext) {
  protected def spark: SparkSession = ctx.spark
  protected def conn: ConnectionDef = ctx.conn

  protected def locator: String = conn.locator.getOrElse(
    sys.error(s"connection kind=${conn.kind} requires a locator"))
  protected def path: String = Locator.locate(locator, ctx.cfg)

  /** Ingest into a DataFrame. `query` (if present) is a simple SELECT with
    * the connection kind as placeholder table (e.g. `FROM Deltatable`);
    * ranking + limit wrapping applied per SURVEY §2.3/2.5. */
  def tap(query: Option[String], limit: Option[Int]): DataFrame

  /** Write the given DataFrame out. */
  def sink(from: DataFrame): Unit

  /** The sink's `data_mode`, `append` when unset. */
  protected def dataMode: String = conn.str("data_mode").getOrElse("append")

  /** [[dataMode]] as a Spark save mode. */
  protected def saveMode: SaveMode = dataMode match {
    case "append" => SaveMode.Append
    case "overwrite" => SaveMode.Overwrite
    case "error" => SaveMode.ErrorIfExists
    case other => sys.error(s"unknown data_mode: $other")
  }

  /** Execute a raw statement against the connection's system. */
  def sqlStmt(stmt: String): Option[DataFrame] =
    sys.error(s"kind=${conn.kind} does not support sql stages")

  /** Introspect source schema without materializing (taps only). */
  def showSchema(): StructType = tap(None, Some(1)).schema

  /** Shared tap plumbing: apply the user query over the raw source
    * (placeholder-table swap onto a scratch view), dedup ranking, and
    * limit. Scratch views last one statement ([[SqlBridge.withScratchViews]]). */
  protected def finishTap(raw: DataFrame, query: Option[String],
      limit: Option[Int]): DataFrame = {
    val base = query match {
      case Some(q) if conn.bool("raw_dispatch") =>
        // SQL sent as-is with short locators resolved (SURVEY §2.3)
        val rewritten = graft.sqlbridge.RawDispatch.rewrite(q, locator, path)
        graft.sqlbridge.RawDispatch.execute(spark, rewritten, ctx.names)
      case Some(q) => SqlBridge.withScratchViews(spark) { view =>
        val scratch = view("__tap_src", raw)
        val translated = SqlBridge.translate(q, ctx.names, Some(spark))
        spark.sql(SqlBridge.swapFromTable(translated, scratch))
      }
      case None => raw
    }
    val ranked = (conn.version, conn.keys) match {
      case (Some(v), keys) if keys.nonEmpty =>
        // the wrapper below sees only a scratch view: check the tap's query
        query.foreach(SqlBridge.requireRankable)
        SqlBridge.withScratchViews(spark) { view =>
          spark.sql(SqlBridge.rankedQuery(
            s"SELECT * FROM ${view("__tap_ranked", base)}", v, keys))
        }
      case _ => base
    }
    limit.map(ranked.limit).getOrElse(ranked)
  }

  /** Reader options: every connection param that isn't an engine keyword
    * passes through to the Spark reader (mirrors the reference forwarding
    * **params into read_parquet/read_csv/read_json). */
  protected def passthroughOptions: Map[String, String] = {
    val reserved = Set("fields", "version", "key", "config", "format",
      "data_mode", "schema_mode", "partition", "limit", "client", "request",
      "raw_dispatch", "optimize")
    conn.params.collect {
      case (k, v) if !reserved.contains(k) && v != null &&
        (v.isInstanceOf[String] || v.isInstanceOf[Boolean] ||
          v.isInstanceOf[Int] || v.isInstanceOf[Long] || v.isInstanceOf[Double]) =>
        k -> v.toString
    }
  }
}

object Connection {
  /** kind string → implementation (reference:
    * ankaflow/connections/__init__.py:41-70). Resolution is the choke
    * point every tap/sink/sql passes through, so scoped credentials are
    * injected here — same placement as the reference's inject_secrets
    * calls before each stage body (flow.py:215,291,321). */
  def resolve(ctx: ConnContext): Connection = {
    CloudSecrets.inject(ctx.spark, ctx.conn, ctx.cfg)
    resolveKind(ctx)
  }

  private def resolveKind(ctx: ConnContext): Connection = ctx.conn.kind.toLowerCase match {
    case k if FileFormats.kinds.contains(k) => new FormatConnection(ctx)
    case "file" => new FileConnection(ctx)
    case "variable" => new VariableConnection(ctx)
    case "deltatable" => new DeltaConnection(ctx)
    case "rest" => new RestConnection(ctx)
    case "sqlgen" => new SqlGenConnection(ctx)
    case "clickhouse" => new ClickhouseConnection(ctx)
    case "bigquery" => new BigQueryConnection(ctx)
    case "customconnection" | "custom" =>
      val cls = ctx.conn.str("module").getOrElse(
        sys.error("CustomConnection requires 'module' (class name)"))
      Class.forName(cls)
        .getConstructor(classOf[ConnContext])
        .newInstance(ctx).asInstanceOf[Connection]
    case other => sys.error(s"unknown connection kind: $other")
  }
}
