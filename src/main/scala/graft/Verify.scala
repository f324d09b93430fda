package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop only;
    // the driver always calls with exactly two)
    val (sfDir, outDir, only) = args match {
      case Array(s, o) => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(",").toSet))
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [onlyCsv]")
        sys.exit(2)
    }
    // the shipped profile, so the oracle gate checks the confs that ship
    val spark = graft.core.GraftSession.local("graft-verify").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Json.write escapes every control char: a tab or CR in
    // builder-authored SQL must not break the driver's json.load
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      graft.template.Json.write(SparkEntry.oracleSql))
    spark.stop()
  }
}
