package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{Flow, FlowRunError}
import graft.connections.FlowConfig
import scala.collection.mutable

/** End-to-end pipeline tests shaped like the reference's
  * support/integration.yaml (tap → transform → union → delta round-trip →
  * variable round-trip → looped sub-pipeline). */
class FlowSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"
  private def tmpDir(): String =
    Files.createTempDirectory("graft_flow").toString

  test("minimum slice: parquet tap → transform → parquet sink → df()") {
    val out = tmpDir() + "/out"
    val yaml =
      s"""
         |- name: Lineitem
         |  kind: tap
         |  connection:
         |    kind: Parquet
         |    locator: $sf/lineitem.parquet
         |- name: Totals
         |  kind: transform
         |  query: select l_returnflag, count(*) as totals from Lineitem group by 1 order by 1
         |- name: WriteOut
         |  kind: sink
         |  connection:
         |    kind: Parquet
         |    locator: $out
         |""".stripMargin
    val flow = Flow.runYaml(spark, yaml)
    val df = flow.df()
    assert(df.count() == 3)
    assert(spark.read.parquet(out).count() == 3)
    assert(df.columns.toList == List("l_returnflag", "totals"))
  }

  test("tap with query and placeholder table") {
    val yaml =
      s"""
         |- name: BigOrders
         |  kind: tap
         |  connection:
         |    kind: Parquet
         |    locator: $sf/orders.parquet
         |  query: SELECT o_orderkey, o_totalprice FROM Parquet WHERE o_totalprice > 300000
         |""".stripMargin
    val flow = Flow.runYaml(spark, yaml)
    assert(flow.df().columns.toList == List("o_orderkey", "o_totalprice"))
    assert(flow.df().count() > 0)
  }

  test("versioned dedup ranking on tap (version + key)") {
    val yaml =
      s"""
         |- name: LatestEvents
         |  kind: tap
         |  connection:
         |    kind: Parquet
         |    locator: $sf/events.parquet
         |    version: event_id
         |    key: [user_id, event_type]
         |""".stripMargin
    // The events fixture's ts physical type has drifted across rounds
    // (ns vs µs); delegate to the one adaptive helper.
    graft.queries.Tables.ensureEventsReadable(spark)
    val flow = Flow.runYaml(spark, yaml)
    val df = flow.df()
    assert(df.groupBy("user_id", "event_type").count()
      .filter("count > 1").count() == 0)
  }

  test("a ranked tap rejects an aggregating query (util.py:419-424)") {
    val dir = tmpDir()
    spark.range(10).selectExpr("id % 3 AS id", "id AS v").write.parquet(s"$dir/in")
    val err = intercept[Exception](Flow.runYaml(spark,
      s"""
         |- name: Ranked
         |  kind: tap
         |  connection:
         |    kind: Parquet
         |    locator: $dir/in
         |    version: v
         |    key: [id]
         |  query: SELECT id, max(v) AS v FROM Parquet GROUP BY id
         |""".stripMargin).df().collect())
    assert(err.getMessage.contains(
      "Cannot combine ranking (version/key) with aggregation in a tap query"))
  }

  test("csv + json round trip via sinks and taps") {
    val dir = tmpDir()
    val yaml =
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: WriteCsv
         |  kind: sink
         |  connection: {kind: CSV, locator: $dir/nation_csv}
         |- name: WriteJson
         |  kind: sink
         |  connection: {kind: JSON, locator: $dir/nation_json, format: lines}
         |- name: ReadCsv
         |  kind: tap
         |  connection: {kind: CSV, locator: $dir/nation_csv}
         |- name: ReadJson
         |  kind: tap
         |  connection: {kind: JSON, locator: $dir/nation_json, format: lines}
         |- name: Unioned
         |  kind: transform
         |  query: select * from ReadCsv union all select * from ReadJson
         |""".stripMargin
    val flow = Flow.runYaml(spark, yaml)
    assert(flow.df().count() == 50) // 25 nations × 2
  }

  test("delta emulation: write, read, truncate, read empty (integration.yaml:107-135)") {
    val delta = tmpDir() + "/delta_t"
    val write =
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: WriteDelta
         |  kind: sink
         |  connection:
         |    kind: Deltatable
         |    locator: $delta
         |    data_mode: append
         |- name: Read Delta
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable
         |- name: Truncate Delta
         |  kind: sql
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: truncate Deltatable
         |- name: Read Empty Delta
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable
         |""".stripMargin
    val flow = Flow.runYaml(spark, write)
    assert(flow.df().count() == 0) // after truncate
    // the pre-truncate read captured 25 rows under the mangled view name
    assert(spark.table("Read_Delta").count() == 25)
  }

  test("delta time travel: vacuum makes old versions error loudly; partitioned tables travel with reconstructed partition values") {
    val delta = tmpDir() + "/delta_tt"
    Flow.runYaml(spark,
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: V0
         |  kind: sink
         |  connection: {kind: Deltatable, locator: $delta, data_mode: overwrite}
         |- name: V1
         |  kind: sink
         |  connection: {kind: Deltatable, locator: $delta, data_mode: overwrite}
         |""".stripMargin)
    // v0's files are retired, not deleted: travel works pre-vacuum
    assert(Flow.runYaml(spark,
      s"""
         |- name: Old
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable VERSION AS OF 0
         |""".stripMargin).df().count() == 25)
    // unknown version names the known ones
    val unknown = intercept[RuntimeException](Flow.runYaml(spark,
      s"""
         |- name: Nope
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable VERSION AS OF 9
         |""".stripMargin))
    assert(unknown.getMessage.contains("no version 9"))
    // vacuum with zero retention deletes the retired files → v0 now
    // errors loudly instead of silently rereading current data
    Flow.runYaml(spark,
      s"""
         |- name: Vac
         |  kind: sql
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: OPTIMIZE DELTATABLE VACUUM AGE=0h
         |""".stripMargin)
    val vacuumed = intercept[RuntimeException](Flow.runYaml(spark,
      s"""
         |- name: Old2
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable VERSION AS OF 0
         |""".stripMargin))
    assert(vacuumed.getMessage.contains("vacuumed"))
    // current state is untouched by the failed travels
    assert(Flow.runYaml(spark,
      s"""
         |- name: Cur
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable
         |""".stripMargin).df().count() == 25)
    // partitioned tables travel too (r14/p21): version 0's hive-style
    // `n_regionkey=…/` layout is preserved through retirement, and a
    // versioned read reconstructs the partition values via basePath
    // discovery — so AS OF 0 returns the FULL original rows even after
    // an overwrite shrank the live table
    val part = tmpDir() + "/delta_part"
    Flow.runYaml(spark,
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: V0
         |  kind: sink
         |  connection:
         |    kind: Deltatable
         |    locator: $part
         |    data_mode: overwrite
         |    partition: [n_regionkey]
         |- name: OneRegion
         |  kind: transform
         |  query: select * from Nations where n_regionkey = 0
         |- name: V1
         |  kind: sink
         |  connection:
         |    kind: Deltatable
         |    locator: $part
         |    data_mode: overwrite
         |    partition: [n_regionkey]
         |""".stripMargin)
    val v0 = Flow.runYaml(spark,
      s"""
         |- name: T
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $part}
         |  query: select * from Deltatable VERSION AS OF 0
         |""".stripMargin).df()
    assert(v0.count() == 25)
    // partition values are reconstructed, not null: all 5 region keys
    // present with the original 5 nations each
    import org.apache.spark.sql.functions.{col, countDistinct}
    assert(v0.agg(countDistinct(col("n_regionkey"))).head.getLong(0) == 5)
    assert(v0.where(col("n_regionkey") === 2).count() == 5)
    // current state is the overwrite, also with reconstructed values
    val cur = Flow.runYaml(spark,
      s"""
         |- name: C
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $part}
         |  query: select * from Deltatable
         |""".stripMargin).df()
    assert(cur.count() == 5 &&
      cur.where(col("n_regionkey") === 0).count() == 5)
    // vacuum on a partitioned table deletes retired partition dirs →
    // travel to v0 errors loudly, never silently rereads current data
    Flow.runYaml(spark,
      s"""
         |- name: VacP
         |  kind: sql
         |  connection: {kind: Deltatable, locator: $part}
         |  query: OPTIMIZE DELTATABLE VACUUM AGE=0h
         |""".stripMargin)
    val goneP = intercept[RuntimeException](Flow.runYaml(spark,
      s"""
         |- name: T2
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $part}
         |  query: select * from Deltatable VERSION AS OF 0
         |""".stripMargin))
    assert(goneP.getMessage.contains("vacuumed"))
  }

  test("delta crash recovery: every manifested version survives a crash at any commit point") {
    val delta = tmpDir() + "/delta_crash"
    Flow.runYaml(spark,
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: V0
         |  kind: sink
         |  connection: {kind: Deltatable, locator: $delta, data_mode: overwrite}
         |- name: Sub
         |  kind: transform
         |  query: select * from Nations where n_regionkey < 2
         |- name: V1
         |  kind: sink
         |  connection: {kind: Deltatable, locator: $delta, data_mode: overwrite}
         |""".stripMargin)
    def read(q: String): Long = Flow.runYaml(spark,
      s"""
         |- name: R
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: $q
         |""".stripMargin).df().count()
    import java.nio.file.Paths
    import scala.jdk.CollectionConverters._
    val root = Paths.get(delta)
    val tmp = Paths.get(delta + "__graft_commit_tmp")
    val retained = root.resolve("_graft_log/retained")
    def liveParquets: List[String] = {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(_.toString.endsWith(".parquet"))
        .map(f => root.relativize(f).toString)
        .filterNot(_.startsWith("_graft_log")).toList
      finally s.close()
    }
    // CRASH A — a v2 overwrite died AFTER retiring v1's files but BEFORE
    // appending its manifest: v1's files sit in the retention area, the
    // unmanifested stage holds data no version references
    Files.createDirectories(tmp)
    Files.writeString(tmp.resolve("part-unmanifested.parquet"), "crashed stage")
    liveParquets.foreach { rel =>
      val dst = retained.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.move(root.resolve(rel), dst)
    }
    // both manifested versions still read correctly (VERDICT r14 #3: the
    // scaladoc's claim, now pinned) …
    assert(read("select * from Deltatable VERSION AS OF 0") == 25)
    assert(read("select * from Deltatable VERSION AS OF 1") == 10)
    // … and recovery ROLLED BACK the crashed commit: current reads land
    // on the v1 boundary, the stage is discarded
    assert(read("select * from Deltatable") == 10)
    assert(!Files.exists(tmp))
    // CRASH B — a commit died AFTER appending its manifest but BEFORE
    // moving the staged files in: the latest version's files are only in
    // the stage (simulated by stranding v1's live files back there)
    Files.createDirectories(tmp)
    liveParquets.foreach { rel =>
      val dst = tmp.resolve(rel)
      Files.createDirectories(dst.getParent)
      Files.move(root.resolve(rel), dst)
    }
    // recovery COMPLETES the commit on next open; all versions intact
    assert(read("select * from Deltatable VERSION AS OF 1") == 10)
    assert(read("select * from Deltatable") == 10)
    assert(read("select * from Deltatable VERSION AS OF 0") == 25)
    assert(!Files.exists(tmp))
  }

  test("Stages.load accepts a file path in place of YAML text") {
    val p = java.nio.file.Files.createTempFile("graft_stages", ".yaml")
    java.nio.file.Files.write(p,
      s"""
         |- name: R
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |""".stripMargin.getBytes("UTF-8"))
    val flow = new Flow(spark, graft.model.Stages.load(p.toString)).run()
    assert(flow.df().count() == 5)
    val bad = intercept[Exception](graft.model.Stages.load("/no/such/file.yaml"))
    assert(bad.getMessage.contains("could not interpret"))
  }

  test("header stages are documentation no-ops (flow.py:591-592)") {
    val yaml =
      s"""
         |- name: Title
         |  kind: header
         |- name: Regions
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |""".stripMargin
    assert(Flow.runYaml(spark, yaml).df().count() == 5)
    // a flow of only no-ops yields an EMPTY frame (flow.py:631-637)
    assert(Flow.runYaml(spark, "- {name: T, kind: header}").df().count() == 0)
  }

  test("context FileName/FileType override the File connection dispatch") {
    // locator points nowhere useful; the runtime context redirects the
    // read to nation.parquet (file.py:124-131)
    val yaml =
      s"""
         |- name: F
         |  kind: tap
         |  connection: {kind: File, locator: /nonexistent.bin}
         |""".stripMargin
    val flow = Flow.runYaml(spark, yaml,
      context = Map("FileName" -> s"$sf/nation.parquet", "FileType" -> "parquet"))
    assert(flow.df().count() == 25)
  }

  test("ORC sink/tap round trip preserves rows and types") {
    val out = tmpDir() + "/orc"
    val yaml =
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: W
         |  kind: sink
         |  connection: {kind: ORC, locator: $out}
         |- name: Back
         |  kind: tap
         |  connection: {kind: ORC, locator: $out}
         |  query: SELECT n_regionkey, COUNT(*) AS n FROM ORC GROUP BY 1 ORDER BY 1
         |""".stripMargin
    val df = Flow.runYaml(spark, yaml).df()
    assert(df.count() == 5)
    assert(spark.read.orc(out).count() == 25)
    // File connection picks the reader from the .orc suffix too
    val viaFile = Flow.runYaml(spark,
      s"""
         |- name: F
         |  kind: tap
         |  connection: {kind: File, locator: $out, filetype: orc}
         |""".stripMargin).df()
    assert(viaFile.count() == 25)
  }

  test("driver-row cap: an oversized loop fails fast with a clear error") {
    val yaml =
      s"""
         |- name: Lineitem
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/lineitem.parquet}
         |- name: Loop
         |  kind: pipeline
         |  stages:
         |    - name: Inner
         |      kind: transform
         |      query: select 1 as one
         |""".stripMargin
    val ex = intercept[FlowRunError] {
      Flow.runYaml(spark, yaml, config = FlowConfig(maxDriverRows = 10))
    }
    assert(ex.getMessage.contains("more than 10 rows"))
    assert(ex.getMessage.contains("maxDriverRows"))
  }

  test("delta OPTIMIZE: flag parsing + compaction; DRY_RUN leaves files") {
    import graft.connections.DeltaConnection.parseOptimizeFlags
    val f = parseOptimizeFlags("OPTIMIZE DELTATABLE COMPACT AGE=3d DRY_RUN")
    assert(f.compact && !f.vacuum && f.dryRun && f.retentionHours == 72)
    // bare OPTIMIZE → compact + vacuum, 7d default
    val g = parseOptimizeFlags("OPTIMIZE DELTATABLE")
    assert(g.compact && g.vacuum && !g.cleanup && g.retentionHours == 168)
    // CLEANUP alone → neither compact nor vacuum
    val c = parseOptimizeFlags("OPTIMIZE DELTATABLE CLEANUP")
    assert(!c.compact && !c.vacuum && c.cleanup)
    // guardrail: AGE beyond a year clamps (delta.py retention rule)
    assert(parseOptimizeFlags("OPTIMIZE DELTATABLE AGE=9999d").retentionHours == 365 * 24)

    val delta = tmpDir() + "/opt_t"
    def append() = Flow.runYaml(spark,
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: W
         |  kind: sink
         |  connection: {kind: Deltatable, locator: $delta, data_mode: append}
         |""".stripMargin)
    append(); append()
    // LIVE files only: retired history under _graft_log is delta's
    // vacuum-able past, not the table (same as _delta_log in real delta)
    def files = java.nio.file.Files.walk(java.nio.file.Paths.get(delta))
      .filter(f => f.toString.endsWith(".parquet") &&
        !f.toString.contains("_graft_log")).count()
    val before = files
    Flow.runYaml(spark,
      s"""
         |- name: Dry
         |  kind: sql
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: OPTIMIZE DELTATABLE COMPACT DRY_RUN
         |""".stripMargin)
    assert(files == before) // dry run touches nothing
    Flow.runYaml(spark,
      s"""
         |- name: Compact
         |  kind: sql
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: OPTIMIZE DELTATABLE COMPACT
         |""".stripMargin)
    assert(files < before)
    assert(spark.read.parquet(delta).count() == 50) // 25 nations × 2 appends
    // vacuum with zero retention clears the retired history
    Flow.runYaml(spark,
      s"""
         |- name: Vac
         |  kind: sql
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: OPTIMIZE DELTATABLE VACUUM AGE=0h
         |""".stripMargin)
    val retained = java.nio.file.Paths.get(s"$delta/_graft_log/retained")
    assert(!java.nio.file.Files.isDirectory(retained) ||
      java.nio.file.Files.walk(retained)
        .filter(java.nio.file.Files.isRegularFile(_)).count() == 0)
  }

  test("delta sink with partition columns lays out hive-style dirs") {
    val dir = tmpDir()
    val yaml =
      s"""
         |- name: Orders
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/orders.parquet}
         |  query: SELECT o_orderkey, o_orderstatus, o_totalprice FROM Parquet
         |- name: Out
         |  kind: sink
         |  connection:
         |    kind: Deltatable
         |    locator: $dir/t
         |    data_mode: overwrite
         |    partition: [o_orderstatus]
         |""".stripMargin
    Flow.runYaml(spark, yaml)
    val parts = new java.io.File(s"$dir/t").listFiles()
      .filter(_.isDirectory).map(_.getName)
      .filter(_ != "_graft_log").sorted // version log ≈ delta's _delta_log
    assert(parts.forall(_.startsWith("o_orderstatus=")))
    assert(parts.length >= 2, "expected one dir per status value")
    // read back with a partition filter → pruned scan
    val read = spark.read.parquet(s"$dir/t")
      .filter(org.apache.spark.sql.functions.col("o_orderstatus") === "O")
    assert(read.queryExecution.executedPlan.toString.contains("PartitionFilters"))
    // the ENGINE path must also see the partitioned table (exists() walks
    // subdirs — no top-level parquet files exist in this layout)
    val tapBack =
      s"""
         |- name: Back
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $dir/t}
         |  query: select count(*) as n from Deltatable where o_orderstatus = 'O'
         |""".stripMargin
    assert(Flow.runYaml(spark, tapBack).df().collect()(0).getLong(0) > 0)
  }

  test("delta partitioned on a '_'-prefixed column keeps and retires its rows") {
    // `_r=0` holds '=', so it is a partition dir, not a hidden one
    val dir = tmpDir()
    def sink(mode: String, where: String) = Flow.runYaml(spark,
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |  query: SELECT n_nationkey, n_regionkey AS _r FROM Parquet WHERE $where
         |- name: W
         |  kind: sink
         |  connection: {kind: Deltatable, locator: $dir/t, data_mode: $mode, partition: [_r]}
         |""".stripMargin)
    def read(version: String = "") = Flow.runYaml(spark,
      s"""
         |- name: R
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $dir/t}
         |  query: SELECT CAST(_r AS INT), count(*) AS n FROM Deltatable $version GROUP BY _r
         |""".stripMargin).df().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    sink("append", "true")
    assert(new java.io.File(s"$dir/t/_r=0").isDirectory)
    val all = (0 to 4).map(_ -> 5L).toMap
    assert(read() == all)
    sink("overwrite", "n_regionkey = 0")
    assert(read() == Map(0 -> 5L))
    assert(read("VERSION AS OF 0") == all)
    assert(read("VERSION AS OF 1") == Map(0 -> 5L))
  }

  test("delta showSchema lists the merged schema the tap reads") {
    val delta = tmpDir() + "/delta_evolve"
    // three appends, three schemas: no single file holds both b and c
    Seq("1 AS a", "2 AS a, 'x' AS b", "3 AS a, 'y' AS c").foreach { cols =>
      Flow.runYaml(spark,
        s"""
           |- name: Rows
           |  kind: transform
           |  query: SELECT $cols
           |- name: W
           |  kind: sink
           |  connection: {kind: Deltatable, locator: $delta, data_mode: append}
           |""".stripMargin)
    }
    val yaml =
      s"""
         |- name: T
         |  kind: tap
         |  connection: {kind: Deltatable, locator: $delta}
         |  query: select * from Deltatable
         |""".stripMargin
    val tapped = Flow.runYaml(spark, yaml).df().schema
    assert(tapped.fieldNames.sorted.toSeq == Seq("a", "b", "c"))
    val shown = new Flow(spark, graft.model.Stages.load(yaml)).showSchema()
    assert(shown.map(_.table) == List("T"))
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.toSeq.map(f => f.name -> f.dataType)
    assert(fields(shown.head.fields) == fields(tapped))
  }

  test("variable sink and tap round trip") {
    val yaml =
      s"""
         |- name: Regions
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |- name: StoreVar
         |  kind: sink
         |  connection: {kind: Variable, locator: region_rows}
         |- name: ReloadVar
         |  kind: tap
         |  connection: {kind: Variable, locator: region_rows}
         |""".stripMargin
    val vars = mutable.Map[String, Any]()
    val flow = new Flow(spark, graft.model.Stages.load(yaml), variables = vars).run()
    assert(vars.contains("region_rows"))
    assert(flow.df().count() == 5)
  }

  test("CSV tap with declared fields skips inference and applies types") {
    val dir = tmpDir()
    spark.sql("SELECT 1 AS id, 'x' AS name UNION ALL SELECT 2, 'y'")
      .write.option("header", "true").csv(s"$dir/c")
    val yaml =
      s"""
         |- name: Typed
         |  kind: tap
         |  connection:
         |    kind: CSV
         |    locator: $dir/c
         |    fields:
         |      - {name: id, type: BIGINT}
         |      - {name: name, type: VARCHAR}
         |""".stripMargin
    val df = Flow.runYaml(spark, yaml).df()
    assert(df.schema.map(f => (f.name, f.dataType.simpleString)).toList ==
      List(("id", "bigint"), ("name", "string")))
    assert(df.count() == 2)
  }

  test("skip_if gates execution; on_error continue proceeds") {
    val yaml =
      s"""
         |- name: Skipped
         |  kind: tap
         |  skip_if: "true"
         |  connection: {kind: Parquet, locator: /nonexistent}
         |- name: Fails
         |  kind: tap
         |  on_error: continue
         |  connection: {kind: Parquet, locator: /nonexistent}
         |- name: Works
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |""".stripMargin
    val flow = Flow.runYaml(spark, yaml)
    assert(flow.df().count() == 5)
  }

  test("failing skip_if honors on_error: continue") {
    val yaml =
      s"""
         |- name: BadGate
         |  kind: transform
         |  query: select 1 as x
         |  skip_if: << totally_undefined_name >>
         |  on_error: continue
         |- name: Survives
         |  kind: transform
         |  query: select 42 as answer
         |""".stripMargin
    val flow = Flow.runYaml(spark, yaml)
    assert(flow.df().collect()(0).getInt(0) == 42)
  }

  test("on_error fail raises FlowRunError") {
    val yaml =
      """
        |- name: Boom
        |  kind: tap
        |  connection: {kind: Parquet, locator: /nonexistent_graft}
        |""".stripMargin
    intercept[FlowRunError] { Flow.runYaml(spark, yaml) }
  }

  test("looped sub-pipeline: one iteration per row with loop_control") {
    val vars = mutable.Map[String, Any]()
    val yaml =
      s"""
         |- name: Regions
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |  query: SELECT r_regionkey, r_name FROM Parquet WHERE r_regionkey < 2
         |- name: PerRegion
         |  kind: pipeline
         |  stages:
         |    - name: RegionNations
         |      kind: transform
         |      query: >
         |        SELECT n_name FROM NationsAll
         |        WHERE n_regionkey = << API.look('loop_control.r_regionkey', variables) >>
         |""".stripMargin
    // pre-register a nations view for the inner query
    spark.read.parquet(s"$sf/nation.parquet").createOrReplaceTempView("NationsAll")
    val flow = new Flow(spark, graft.model.Stages.load(yaml), variables = vars).run()
    // loop ran: last iteration (r_regionkey=1) wins
    val names = flow.df().collect().map(_.getString(0)).toSet
    val expect = spark.sql("SELECT n_name FROM NationsAll WHERE n_regionkey = 1")
      .collect().map(_.getString(0)).toSet
    assert(names == expect)
    assert(!vars.contains("loop_control"))
  }

  test("parallel loop: concurrent iterations sink to templated locators") {
    val dir = tmpDir()
    val yaml =
      s"""
         |- name: RegionsLoop
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |- name: PerRegion
         |  kind: pipeline
         |  parallel: true
         |  stages:
         |    - name: NationsOfRegion
         |      kind: tap
         |      connection: {kind: Parquet, locator: $sf/nation.parquet}
         |      query: >
         |        SELECT n_nationkey, n_name, n_regionkey FROM Parquet
         |        WHERE n_regionkey = << API.look('loop_control.r_regionkey', variables) >>
         |    - name: Out
         |      kind: sink
         |      connection:
         |        kind: Parquet
         |        locator: $dir/region_<< API.look('loop_control.r_regionkey', variables) >>
         |""".stripMargin
    Flow.runYaml(spark, yaml)
    val outs = new java.io.File(dir).listFiles().filter(_.isDirectory)
      .map(_.getName).sorted
    assert(outs.toList == (0 to 4).map(i => s"region_$i").toList)
    val total = (0 to 4).map(i =>
      spark.read.parquet(s"$dir/region_$i").count()).sum
    assert(total == 25) // every nation lands exactly once
  }

  test("internal stage and templated query with variables") {
    val vars = mutable.Map[String, Any]("min_bal" -> 9000L)
    val yaml =
      s"""
         |- name: Customers
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/customer.parquet}
         |- name: Rich
         |  kind: internal
         |  query: SELECT count(*) AS n FROM Customers WHERE c_acctbal > << variables.min_bal >>
         |""".stripMargin
    val flow = new Flow(spark, graft.model.Stages.load(yaml), variables = vars).run()
    val n = flow.df().collect()(0).getLong(0)
    val expect = spark.read.parquet(s"$sf/customer.parquet")
      .filter("c_acctbal > 9000").count()
    assert(n == expect)
  }

  test("sqlgen mock generates and registers a view with retry") {
    val yaml =
      s"""
         |- name: Customers
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/customer.parquet}
         |- name: GenQuery
         |  kind: tap
         |  connection:
         |    kind: SQLGen
         |    locator: genq
         |    mock_sql:
         |      - "SELECT bogus_column FROM Customers"
         |      - "SELECT c_mktsegment, count(*) AS n FROM Customers GROUP BY 1"
         |  query: "count customers by segment"
         |""".stripMargin
    val vars = mutable.Map[String, Any]()
    val flow = new Flow(spark, graft.model.Stages.load(yaml), variables = vars).run()
    assert(flow.df().count() == 5)
    assert(vars.contains("genq_success"))
  }

  test("show / show_schema / explain stage flags execute without error") {
    val yaml =
      s"""
         |- name: Regions
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/region.parquet}
         |  show: 2
         |  show_schema: true
         |- name: Sampled
         |  kind: transform
         |  query: select r_name from Regions
         |  show: 0.5
         |- name: Named
         |  kind: transform
         |  query: select r_name from Regions order by r_name
         |  show: -1
         |  explain: true
         |  log_level: DEBUG
         |""".stripMargin
    assert(Flow.runYaml(spark, yaml).df().count() == 5)
  }

  test("Fn.columns table macro lists a stage's schema") {
    val yaml =
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |- name: Schema
         |  kind: transform
         |  query: SELECT * FROM Fn.columns('Nations') ORDER BY column_name
         |""".stripMargin
    val df = Flow.runYaml(spark, yaml).df()
    assert(df.columns.toList == List("column_name", "data_type"))
    assert(df.collect().map(_.getString(0)).toSet ==
      Set("n_nationkey", "n_name", "n_regionkey"))
  }

  test("Fn.calendar works inside a transform") {
    val yaml =
      """
        |- name: Cal
        |  kind: internal
        |  query: SELECT count(*) AS n FROM Fn.calendar()
        |""".stripMargin
    val flow = Flow.runYaml(spark, yaml)
    val n = flow.df().collect()(0).getLong(0)
    assert(n > 1800 && n < 1830) // ~5 years of days
  }

  /** Messages the `graft.core.Flow` logger writes at INFO while `body` runs. */
  private def flowLog(body: => Unit): Seq[String] = {
    import org.apache.logging.log4j.Level
    import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val app = new AbstractAppender("flow-log", null, null, true, Array.empty) {
      override def append(e: LogEvent): Unit =
        lines.add(e.getMessage.getFormattedMessage)
    }
    app.start()
    val logger = LoggerContext.getContext(false).getLogger(classOf[Flow].getName)
    val level = logger.getLevel
    logger.addAppender(app)
    logger.setLevel(Level.INFO)
    try body finally {
      logger.removeAppender(app)
      logger.setLevel(level)
      app.stop()
    }
    lines.toArray(Array.empty[String]).toSeq
  }

  test("stage log: only a stage that ran an action reports done") {
    val out = tmpDir() + "/out"
    val yaml =
      s"""
         |- name: Taps
         |  kind: pipeline
         |  stages:
         |    - name: Lineitem
         |      kind: tap
         |      connection: {kind: Parquet, locator: $sf/lineitem.parquet}
         |- name: Totals
         |  kind: transform
         |  query: select l_returnflag, count(*) as totals from Lineitem group by 1
         |- name: WriteOut
         |  kind: sink
         |  connection: {kind: Parquet, locator: $out}
         |""".stripMargin
    val log = flowLog(Flow.runYaml(spark, yaml))
    def line(stage: String) = log.filter(_.startsWith(s"stage '$stage' "))
    for (lazyStage <- Seq("Lineitem", "Taps", "Totals"))
      assert(line(lazyStage).map(_.split(" ")(2)) == Seq("registered"),
        log.mkString("\n"))
    assert(line("WriteOut").map(_.split(" ")(2)) == Seq("done"), log.mkString("\n"))
  }
}
