package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.connections.FlowConfig
import graft.core.Flow

/** A Deltatable lives at whatever its locator resolves to: a plain path,
  * a `file://` URI, or a relative locator under a `bucket` prefix
  * (reference: `delta_scan('uri')`). One flow — append, overwrite, time
  * travel, truncate, OPTIMIZE + VACUUM, and a partitioned write that
  * travels — must read the same rows at each. Only `file:` runs offline;
  * other schemes take the same Hadoop FileSystem path untested. */
class DeltaLocatorSpec extends AnyFunSuite {
  private lazy val spark = SparkSuite.spark
  private val sf = "/root/testdata/sf0.001"

  private def tmpDir(): String =
    Files.createTempDirectory("graft_delta_loc").toString

  /** Every read the flow makes, in order: sorted row strings, or
    * "vacuumed" for a travel the vacuum made impossible. `at` maps a
    * table name to its locator. */
  private def reads(at: String => String, config: FlowConfig): Seq[Seq[String]] = {
    def run(yaml: String) = Flow.runYaml(spark, yaml, config = config)
    def sink(table: String, mode: String, where: String = "true",
        partition: String = "") = run(
      s"""
         |- name: Nations
         |  kind: tap
         |  connection: {kind: Parquet, locator: $sf/nation.parquet}
         |  query: select * from Parquet where $where
         |- name: W
         |  kind: sink
         |  connection: {kind: Deltatable, locator: ${at(table)}, data_mode: $mode$partition}
         |""".stripMargin)
    def sql(table: String, stmt: String) = run(
      s"""
         |- name: S
         |  kind: sql
         |  connection: {kind: Deltatable, locator: ${at(table)}}
         |  query: $stmt
         |""".stripMargin)
    def read(table: String, version: String = ""): Seq[String] =
      try run(
        s"""
           |- name: R
           |  kind: tap
           |  connection: {kind: Deltatable, locator: ${at(table)}}
           |  query: select * from Deltatable $version
           |""".stripMargin).df().collect().map(_.toString).toSeq.sorted
      catch { case e: Exception if e.getMessage.contains("vacuumed") => Seq("vacuumed") }

    sink("t", "append"); sink("t", "append")
    val appended = read("t")
    sink("t", "overwrite", "n_regionkey < 2")
    val overwritten = read("t")
    val v0 = read("t", "VERSION AS OF 0")
    sql("t", "TRUNCATE DELTATABLE")
    val truncated = read("t")
    sink("t", "append"); sink("t", "append")
    sql("t", "OPTIMIZE DELTATABLE COMPACT VACUUM AGE=0h")
    val optimized = read("t")
    val vacuumed = read("t", "VERSION AS OF 0")
    val byRegion = ", partition: [n_regionkey]"
    sink("p", "overwrite", partition = byRegion)
    sink("p", "overwrite", "n_regionkey = 0", byRegion)
    Seq(appended, overwritten, v0, truncated, optimized, vacuumed,
      read("p"), read("p", "VERSION AS OF 0"))
  }

  /** The reads at a plain path, checked against the versions written,
    * so equal reads elsewhere are not equal failures. */
  private lazy val plain = {
    val dir = tmpDir()
    val got = reads(t => s"$dir/$t", FlowConfig())
    assert(got.map(_.size) == Seq(50, 10, 25, 0, 50, 1, 5, 25) &&
      got(5) == Seq("vacuumed"), s"plain-path reads: $got")
    got
  }

  test("a file:// URI locator reads what the plain path reads") {
    val dir = tmpDir()
    assert(reads(t => s"file://$dir/$t", FlowConfig()) == plain)
    assert(Files.exists(Paths.get(s"$dir/t/_graft_log/0.json")))
    assert(Files.exists(Paths.get(s"$dir/p/_graft_log/1.json")))
  }

  test("a relative locator under a file:// bucket reads what the plain path reads") {
    val dir = tmpDir()
    assert(reads(t => t, FlowConfig(bucket = Some(s"file://$dir"))) == plain)
    assert(Files.exists(Paths.get(s"$dir/t/_graft_log/0.json")))
    assert(Files.exists(Paths.get(s"$dir/p/_graft_log/1.json")))
  }
}
