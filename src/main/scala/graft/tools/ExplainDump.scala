package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.FormattedMode

/** Dev lab (r21): write `.explain("formatted")` of named SparkEntry
  * queries to one text file each — the judge-checkable plan artifacts
  * (plans/r21/<query>_{before,after}.txt). Bench-identical session so
  * the dumped plan is the benched plan.
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <sfDir> [<name>…]
  * (no names = all queries)
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <sfDir> [names…]")
    val outDir = Paths.get(args(0)); Files.createDirectories(outDir)
    val suffix = args(1)
    val dir = args(2)
    val names = if (args.length > 3) args.drop(3).toSeq
                else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.core.GraftSession.local("graft-explaindump").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      val txt = try {
        graft.SparkEntry.queries(n)(spark, dir)
          .queryExecution.explainString(FormattedMode)
      } catch { case e: Throwable => s"FAILED to build: $e" }
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
      println(s"wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }
}
