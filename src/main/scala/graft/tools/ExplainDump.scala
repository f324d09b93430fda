package graft.tools

import java.nio.file.{Files, Paths}

import scala.util.matching.Regex

import org.apache.spark.sql.execution.FormattedMode

/** Dev lab (r21): write `.explain("formatted")` of named SparkEntry
  * queries to one text file each — the judge-checkable plan artifacts
  * (plans/r21/<query>_{before,after}.txt). Bench-identical session so
  * the dumped plan is the benched plan.
  *
  * The text is [[normalize]]d so that two dumps of the same plan diff
  * clean, whichever JVM or checkout wrote them: expression ids (`#123`)
  * and exchange ids (`plan_id=7`) are renumbered in order of first
  * appearance within each query's text, which keeps which attributes
  * are the same one and drops the run-dependent counter offset, and
  * JVM object identities (lambda class names, `@1a2b3c` hash codes)
  * and scratch paths under `java.io.tmpdir` (the streaming gates'
  * randomly named replay directories) are blanked. A diff of two dumps
  * then shows only plan differences.
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
        normalize(graft.SparkEntry.queries(n)(spark, dir)
          .queryExecution.explainString(FormattedMode))
      } catch { case e: Throwable => s"FAILED to build: $e" }
      Files.write(outDir.resolve(s"${n}_$suffix.txt"),
        txt.getBytes("UTF-8"))
      spark.catalog.clearCache()
      println(s"wrote ${n}_$suffix.txt")
    }
    spark.stop()
  }

  private val lambda = """\$\$Lambda[^\s,\])]*""".r
  private val identity = """(?<=[\w$])@[0-9a-f]{4,}\b""".r
  private val scratch = (java.util.regex.Pattern.quote(
    Paths.get(System.getProperty("java.io.tmpdir")).toString) + """/[^\s\],]*""").r

  /** Run-independent form of one plan's text (see the object doc). */
  private def normalize(plan: String): String = {
    def renumber(s: String, re: Regex): String = {
      val seen = scala.collection.mutable.HashMap.empty[String, Int]
      re.replaceAllIn(s, m => Regex.quoteReplacement(
        m.group(1) + seen.getOrElseUpdate(m.group(2), seen.size + 1)))
    }
    val ids = renumber(renumber(plan, """(#)(\d+)""".r), """(plan_id=)(\d+)""".r)
    val blanked = Seq(lambda -> "$$Lambda", identity -> "@", scratch -> "<tmp>")
    blanked.foldLeft(ids) { case (s, (re, to)) =>
      re.replaceAllIn(s, Regex.quoteReplacement(to)) }
  }
}
