package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.connections.FlowConfig
import graft.core.GraftSession

/** CLI surface (reference: ankaflow/cli.py): -c context, -v variables,
  * -o output, env-based connection config. */
class CliSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark

  test("parseArgs: -c/-v/-o") {
    val cli = Main.parseArgs(Array("p.yaml", "-c", "env=prod", "-v", "day=3",
      "-o", "parquet", "/tmp/out"))
    assert(cli.yamlPath == "p.yaml")
    assert(cli.context == Map("env" -> "prod"))
    assert(cli.variables("day") == "3")
    assert(cli.output.contains(("parquet", "/tmp/out")))
  }

  test("parseArgs: unknown flag and empty args reject") {
    assertThrows[RuntimeException](Main.parseArgs(Array("p.yaml", "--bogus")))
    assertThrows[IllegalArgumentException](Main.parseArgs(Array.empty))
  }

  test("run: pipeline with templated context + -o parquet output") {
    val dir = Files.createTempDirectory("graft_cli").toString
    val yamlPath = s"$dir/pipeline.yaml"
    Files.write(java.nio.file.Paths.get(yamlPath),
      s"""
         |- name: Regions
         |  kind: tap
         |  connection: {kind: Parquet, locator: /root/testdata/sf0.001/region.parquet}
         |- name: Picked
         |  kind: transform
         |  query: >
         |    SELECT r_regionkey, r_name FROM Regions
         |    WHERE r_regionkey < << variables.max_key >>
         |    ORDER BY r_regionkey
         |""".stripMargin.getBytes("UTF-8"))
    val cli = Main.parseArgs(Array(yamlPath, "-v", "max_key=3",
      "-o", "parquet", s"$dir/out"))
    val flow = Main.run(spark, cli, FlowConfig())
    assert(flow.df().count() == 3)
    assert(spark.read.parquet(s"$dir/out").count() == 3)
  }

  test("the CLI session runs the shipped profile with its local sizing") {
    val shared = spark
    val cli =
      try Main.session().create()
      finally {
        SparkSession.setDefaultSession(shared)
        SparkSession.setActiveSession(shared)
      }
    // both local values, so no AQE shuffle starts at the cluster's 1024
    val want = GraftSession.confs.toMap ++ GraftSession.localSizing
    want.foreach { case (k, v) => assert(cli.conf.get(k) == v, k) }
  }
}
