package graft

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import graft.connections.{FileFormats, FlowConfig}
import graft.core.Flow
import graft.model.Stages

/** CLI entry point (reference: ankaflow/cli.py):
  *
  *   graft <pipeline.yaml> [-c k=v ...] [-v k=v ...] [-o fmt path]
  *
  * -c sets immutable context entries, -v sets initial variables, -o writes
  * the final relation (parquet|csv|json). Connection configuration comes
  * from env: GRAFT_BUCKET, GRAFT_DATA_PREFIX (cli.py:37-55).
  */
object Main {

  final case class CliArgs(yamlPath: String,
      context: Map[String, Any], variables: mutable.Map[String, Any],
      output: Option[(String, String)])

  def parseArgs(args: Array[String]): CliArgs = {
    require(args.nonEmpty,
      "usage: graft <pipeline.yaml> [-c k=v ...] [-v k=v ...] [-o fmt path]")
    val context = mutable.Map[String, Any]()
    val variables = mutable.Map[String, Any]()
    var output: Option[(String, String)] = None
    var i = 1
    while (i < args.length) {
      args(i) match {
        case "-c" =>
          val Array(k, v) = args(i + 1).split("=", 2)
          context(k) = v
          i += 2
        case "-v" =>
          val Array(k, v) = args(i + 1).split("=", 2)
          variables(k) = v
          i += 2
        case "-o" =>
          output = Some((args(i + 1), args(i + 2)))
          i += 3
        case other => sys.error(s"unknown argument: $other")
      }
    }
    CliArgs(args(0), context.toMap, variables, output)
  }

  /** `-o` formats: write options come from [[FileFormats]]. */
  private val outputs = Set("parquet", "csv", "json")

  /** Session-independent core: run the pipeline, write the -o output,
    * return the flow (testable without owning the session lifecycle). */
  def run(spark: SparkSession, cli: CliArgs, cfg: FlowConfig): Flow = {
    val flow = new Flow(spark, Stages.loadFile(cli.yamlPath), cli.context,
      cfg, cli.variables).run()
    cli.output.foreach { case (fmt, path) =>
      if (!outputs(fmt)) sys.error(s"unknown output format: $fmt")
      FileFormats.byName(fmt).write(flow.df(), path)
      println(s"wrote ${fmt} output to $path")
    }
    flow
  }

  /** The CLI session: [[graft.core.GraftSession.local]], on
    * `SPARK_MASTER` when that deployment setting is given. */
  private[graft] def session(): SparkSession.Builder = {
    val local = graft.core.GraftSession.local("graft")
    sys.env.get("SPARK_MASTER").fold(local)(local.master)
  }

  def main(args: Array[String]): Unit = {
    val cli =
      try parseArgs(args)
      catch {
        case e: Exception => System.err.println(e.getMessage); sys.exit(2)
      }
    val spark = session().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val cfg = FlowConfig(
      bucket = sys.env.get("GRAFT_BUCKET"),
      dataPrefix = sys.env.get("GRAFT_DATA_PREFIX"))
    try run(spark, cli, cfg)
    finally spark.stop()
  }
}
