package graft

import java.net.InetSocketAddress
import java.nio.file.{Files, Paths}
import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.scalatest.funsuite.AnyFunSuite
import graft.connections.{ConnContext, FileFormat, FileFormats, FlowConfig, RestConnection}
import graft.core.Flow
import graft.model.ConnectionDef
import graft.sqlbridge.{RawDispatch, SqlBridge}

/** The one file-format table: what each format reads and writes with, and
  * that every file-opening site — typed connections, `File`, raw
  * dispatch, REST downloads and the CLI writer — gets those options. */
class FileFormatsSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"
  private def tmpDir(): String =
    Files.createTempDirectory("graft_formats").toString

  /** Options the scan of `df` was opened with, keys lowercased, the path
    * left out. */
  private def scanOptions(df: DataFrame): Map[String, String] = {
    val scans = df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation => h }
    assert(scans.size == 1, df.queryExecution.analyzed.toString)
    scans.head.options.map { case (k, v) => k.toLowerCase -> v } - "path"
  }

  private def lower(m: (String, String)*): Map[String, String] =
    m.map { case (k, v) => k.toLowerCase -> v }.toMap

  private def tap(conn: String): DataFrame = Flow.runYaml(spark,
    s"""
       |- name: T
       |  kind: tap
       |  connection: $conn
       |""".stripMargin).df()

  /** nation as csv, json array, jsonl, orc and text under one dir. */
  private lazy val files: String = {
    val dir = tmpDir()
    val nation = spark.read.parquet(s"$sf/nation.parquet")
      .select("n_nationkey", "n_name").orderBy("n_nationkey")
    nation.write.option("header", "true").csv(s"$dir/nation.csv")
    nation.write.json(s"$dir/nation.jsonl")
    nation.write.orc(s"$dir/nation.orc")
    nation.select("n_name").write.text(s"$dir/nation.txt")
    Files.writeString(Paths.get(s"$dir/nation.json"),
      nation.toJSON.collect().mkString("[\n", ",\n", "\n]"))
    dir
  }

  test("table: reader, schema path and writer options per format") {
    def pin(f: FileFormat, reads: Map[String, String], typed: Boolean,
        infers: Map[String, String], writes: Map[String, String]): Unit =
      assert((f.reads, f.typed, f.infers, f.writes) ==
        ((reads, typed, infers, writes)), f.name)
    val mergeSchema = Map("mergeSchema" -> "true")
    pin(FileFormats.parquet, mergeSchema, false, Map.empty, Map.empty)
    pin(FileFormats.orc, mergeSchema, false, Map.empty, Map.empty)
    pin(FileFormats.csv, Map("header" -> "true", "mode" -> "PERMISSIVE"),
      true, Map("inferSchema" -> "true"), Map("header" -> "true"))
    pin(FileFormats.json, Map("multiLine" -> "true"), true, Map.empty, Map.empty)
    pin(FileFormats.jsonl, Map("multiLine" -> "false"), true, Map.empty,
      Map.empty)
    pin(FileFormats.text, Map.empty, false, Map.empty, Map.empty)
    assert(FileFormats.all.map(f => f.name -> f.source) == Seq(
      "parquet" -> "parquet", "orc" -> "orc", "csv" -> "csv",
      "json" -> "json", "jsonl" -> "json", "text" -> "text"))
    assert(FileFormats.byName("txt") == FileFormats.text)
    assert(FileFormats.kinds.keySet == Set("parquet", "orc", "csv", "json"))
  }

  test("typed connections: table options, then passthrough; fields on CSV/JSON") {
    assert(scanOptions(tap(s"{kind: Parquet, locator: $sf/nation.parquet, " +
      "datetimeRebaseMode: CORRECTED}")) ==
      lower("mergeSchema" -> "true", "datetimeRebaseMode" -> "CORRECTED"))
    assert(scanOptions(tap(s"{kind: ORC, locator: $files/nation.orc}")) ==
      lower("mergeSchema" -> "true"))
    assert(scanOptions(tap(s"{kind: CSV, locator: $files/nation.csv}")) ==
      lower("header" -> "true", "mode" -> "PERMISSIVE", "inferSchema" -> "true"))
    assert(scanOptions(tap(s"{kind: JSON, locator: $files/nation.json}")) ==
      lower("multiLine" -> "true"))
    assert(scanOptions(tap(
      s"{kind: JSON, locator: $files/nation.jsonl, format: lines}")) ==
      lower("multiLine" -> "false"))

    val fields = "fields: [{name: n_nationkey, type: INTEGER}, " +
      "{name: n_name, type: VARCHAR}]"
    val csv = tap(s"{kind: CSV, locator: $files/nation.csv, $fields}")
    assert(scanOptions(csv) == lower("header" -> "true", "mode" -> "PERMISSIVE"))
    val json = tap(s"{kind: JSON, locator: $files/nation.json, $fields}")
    Seq(csv, json).foreach { df =>
      assert(df.schema.map(_.dataType.simpleString) == Seq("int", "string"))
      assert(df.count() == 25)
    }
    // parquet has no declared-schema path: fields are ignored
    assert(tap(s"{kind: Parquet, locator: $sf/nation.parquet, $fields}")
      .columns.toSeq == spark.read.parquet(s"$sf/nation.parquet").columns.toSeq)
  }

  test("File: every table format by suffix, no fields and no passthrough") {
    val cases = Seq(
      s"$sf/nation.parquet" -> lower("mergeSchema" -> "true"),
      s"$files/nation.orc" -> lower("mergeSchema" -> "true"),
      s"$files/nation.csv" ->
        lower("header" -> "true", "mode" -> "PERMISSIVE", "inferSchema" -> "true"),
      s"$files/nation.json" -> lower("multiLine" -> "true"),
      s"$files/nation.jsonl" -> lower("multiLine" -> "false"),
      s"$files/nation.txt" -> Map.empty[String, String])
    cases.foreach { case (file, options) =>
      val df = tap(s"{kind: File, locator: $file, samplingRatio: 0.5}")
      assert(scanOptions(df) == options, file)
      assert(df.count() == 25, file)
    }
    val names = tap(s"{kind: File, locator: $files/nation.txt}")
    assert(names.columns.toSeq == Seq("value"))
    assert(names.collect().map(_.getString(0)).contains("NATION_7"))
    val lines = tap(s"{kind: File, locator: $files/nation.jsonl}")
    assert(lines.columns.toSet == Set("n_nationkey", "n_name"))
  }

  test("raw dispatch: table functions read with their format's options") {
    val names = new SqlBridge.NameRegistry
    def opts(call: String): Map[String, String] =
      scanOptions(RawDispatch.execute(spark, s"SELECT * FROM $call", names))
    assert(opts(s"read_parquet('$sf/nation.parquet', union_by_name=true)") ==
      lower("mergeSchema" -> "true"))
    assert(opts(s"delta_scan('$sf/nation.parquet')") ==
      lower("mergeSchema" -> "true"))
    assert(opts(s"read_csv('$files/nation.csv')") ==
      lower("header" -> "true", "mode" -> "PERMISSIVE", "inferSchema" -> "true"))
    assert(opts(s"read_json_auto('$files/nation.json')") ==
      lower("multiLine" -> "true"))
  }

  test("writers: every write overwrites; csv writes a header") {
    val dir = tmpDir()
    val sinks = Seq("Parquet", "ORC", "CSV", "JSON").map { kind =>
      s"""
         |- name: Write$kind
         |  kind: sink
         |  connection: {kind: $kind, locator: $dir/${kind.toLowerCase}}""".stripMargin
    }.mkString
    val yaml =
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}$sinks
         |""".stripMargin
    Flow.runYaml(spark, yaml)
    Flow.runYaml(spark, yaml)
    assert(spark.read.parquet(s"$dir/parquet").count() == 25)
    assert(spark.read.orc(s"$dir/orc").count() == 25)
    assert(spark.read.json(s"$dir/json").count() == 25)
    val csvLines = spark.read.text(s"$dir/csv").collect().map(_.getString(0))
    assert(csvLines.length == 26)
    assert(csvLines.count(_.startsWith("n_nationkey,")) == 1)

    val cliYaml = s"$dir/cli.yaml"
    Files.writeString(Paths.get(cliYaml),
      s"""
         |- name: Regions
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |""".stripMargin)
    (1 to 2).foreach { _ =>
      Main.run(spark, Main.parseArgs(Array(cliYaml, "-o", "csv", s"$dir/cli")),
        FlowConfig())
    }
    val cliLines = spark.read.text(s"$dir/cli").collect().map(_.getString(0))
    assert(cliLines.length == 6 && cliLines.count(_.startsWith("r_regionkey,")) == 1)
    assertThrows[RuntimeException](Main.run(spark,
      Main.parseArgs(Array(cliYaml, "-o", "orc", s"$dir/cli_orc")), FlowConfig()))
  }

  test("REST: a JSON-lines download reads through the jsonl entry with fields") {
    val server = HttpServer.create(new InetSocketAddress(0), 0)
    val port = { server.start(); server.getAddress.getPort }
    def route(path: String, body: String): Unit =
      server.createContext(path, (ex: HttpExchange) => {
        val bytes = body.getBytes("UTF-8")
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      })
    route("/job",
      s"""{"done":true,"file":"http://localhost:$port/export.jsonl"}""")
    route("/export.jsonl", "{\"id\":1,\"v\":\"a\"}\n{\"id\":2,\"v\":\"b\"}\n")
    def rest(fields: List[Map[String, Any]]): DataFrame =
      new RestConnection(ConnContext(spark, ConnectionDef("rest", None, Map(
        "client" -> Map("base_url" -> s"http://localhost:$port"),
        "fields" -> fields,
        "request" -> Map("endpoint" -> "/job", "method" -> "get",
          "response" -> Map("content_type" -> "application/jsonl",
            "handler" -> Map("kind" -> "URLPolling",
              "ready_status" -> "done", "locator" -> "file"))))),
        FlowConfig(), scala.collection.mutable.Map.empty,
        new SqlBridge.NameRegistry)).tap(None, None)
    try {
      val inferred = rest(Nil)
      assert(scanOptions(inferred) == lower("multiLine" -> "false"))
      assert(inferred.orderBy("id").collect().map(r =>
        (r.getAs[Long]("id"), r.getAs[String]("v"))).toSeq ==
        Seq((1L, "a"), (2L, "b")))
      val typed = rest(List(Map("name" -> "id", "type" -> "INTEGER"),
        Map("name" -> "v", "type" -> "VARCHAR")))
      assert(typed.schema.map(_.dataType.simpleString) == Seq("int", "string"))
      assert(typed.count() == 2)
    } finally server.stop(0)
  }

  test("JSON rows on the driver: Variable and REST records share one reader") {
    val empty = FileFormats.jsonRows(spark, Nil,
      graft.model.ColumnDef("id", "BIGINT") :: Nil)
    assert(empty.schema.map(f => f.name -> f.dataType.simpleString) ==
      Seq("id" -> "bigint"))
    assert(empty.count() == 0)
    val rows = FileFormats.jsonRows(spark, Seq("""{"a":1}""", """{"a":2,"b":"x"}"""))
    assert(rows.columns.toSeq == Seq("a", "b"))
    assert(rows.count() == 2)
  }
}
