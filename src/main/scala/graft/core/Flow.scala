package graft.core

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.connections.{ConnContext, Connection, FileFormats, FlowConfig}
import graft.model.{ConnectionDef, Stage, Stages}
import graft.sqlbridge.SqlBridge
import graft.sqlbridge.SqlBridge.NameRegistry
import graft.template.{Api, Json, Renderer}

class FlowRunError(msg: String, cause: Throwable = null)
  extends RuntimeException(msg, cause)

/** Per-stage schema descriptor (reference: SchemaItem,
  * ankaflow/models/core.py:37-41). */
final case class SchemaItem(
    table: String,
    locator: Option[String],
    kind: String,
    fields: org.apache.spark.sql.types.StructType)

/** The pipeline engine (reference: ankaflow/core/flow.py).
  *
  * SparkSession plays the role of the embedded database: every stage
  * materializes a named relation as a temp view, later stages reference
  * prior stages by name in SQL, taps whose source a later stage rewrites
  * are snapshotted (the reference's CREATE TABLE AS, flow.py:217-221),
  * transforms stay lazy views (flow.py:267).
  *
  * Stage kinds: tap/source, transform, sink, sql, internal/self, pipeline
  * (nested; row-driven loop when preceded by a producing stage,
  * flow.py:126-173). Per-stage controls: skip_if, on_error, throttle,
  * show, show_schema, explain, log_level.
  */
final class Flow(
    val spark: SparkSession,
    stagesDef: Stages,
    val context: Map[String, Any] = Map.empty,
    val config: FlowConfig = FlowConfig(),
    val variables: mutable.Map[String, Any] = mutable.Map.empty,
    val names: NameRegistry = new NameRegistry,
    flowOnError: String = "fail",
    inheritedWrites: List[(String, String)] = Nil,
    rootFlow: Boolean = true) {

  private var lastNameVar: Option[String] = None
  /** Whether any stage of this flow ran a Spark action (see [[runStage]]). */
  private var ranAction = false
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[Flow])

  // a caller's session may come from outside GraftSession; nested flows
  // share the root's session
  if (rootFlow) graft.functions.GraftFunctions.ensure(spark)

  /** Write targets that can still fire AFTER stage i of this flow:
    * (connection family, normalized locator prefix) of every sink/sql in
    * stages i+1..n (subtrees included), plus `inheritedWrites` — writes
    * an ancestor performs after this sub-flow returns, and, for looped
    * sub-flows, the loop body's own writes (iteration k+1 writes after
    * iteration k's taps). Writes at or before stage i cannot rewrite what
    * a tap at i reads, so they don't force a snapshot. */
  private val futureWrites: Array[List[(String, String)]] = {
    val n = stagesDef.stages.length
    val out = new Array[List[(String, String)]](n + 1)
    out(n) = inheritedWrites
    var i = n - 1
    while (i >= 0) {
      out(i) = Flow.collectWrites(List(stagesDef.stages(i)), config) ++ out(i + 1)
      i -= 1
    }
    out
  }

  def lastName: Option[String] = lastNameVar

  /** Final relation of the flow as a DataFrame. A flow that produced no
    * relation yields an EMPTY frame, matching the reference's
    * `return pd.DataFrame()` (flow.py:631-637). */
  def df(): DataFrame = lastNameVar match {
    case Some(n) => spark.table(names.get(n).getOrElse(n))
    case None => spark.emptyDataFrame
  }

  /** Schemas for all introspectable stages WITHOUT executing the pipeline
    * (reference: AsyncFlow.show_schema, flow.py:643-675): taps ask their
    * source; transforms are skipped (they'd need prior stages to exist). */
  def showSchema(): List[SchemaItem] =
    stagesDef.stages.flatMap { stage =>
      stage.kind.toLowerCase match {
        case "tap" | "source" =>
          try {
            val conn = Connection.resolve(connCtx(stage))
            Some(SchemaItem(stage.name, stage.connection.flatMap(_.locator),
              stage.connection.map(_.kind).getOrElse(""), conn.showSchema()))
          } catch { case _: UnsupportedOperationException => None }
        case "pipeline" =>
          new Flow(spark, graft.model.Stages(stage.stages), context, config,
            variables, names, flowOnError, inheritedWrites).showSchema()
        case _ => None
      }
    }

  def run(): Flow = {
    config.hadoopConf.foreach { case (k, v) =>
      spark.sparkContext.hadoopConfiguration.set(k, v)
    }
    try stagesDef.stages.zipWithIndex.foreach { case (s, i) =>
      runStage(s, futureWrites(i + 1))
    } finally if (rootFlow && Flow.declaresLogLevel(stagesDef.stages))
      // flow.py:627 resets ONCE, after the whole run — a sub-flow ending
      // must not clobber a level a parent stage set for later stages,
      // and a flow that never touched the level leaves the host's alone
      Flow.setEngineLogLevel("INFO")
    this
  }

  private def renderCtx: Map[String, Any] =
    Map("context" -> context, "variables" -> variables, "API" -> Api)

  private def renderStr(s: String): String = Renderer.render(s, renderCtx)

  /** Render every templated string in a connection def (reference renders
    * the connection model recursively, flow.py:429-475). */
  private def renderConn(c: ConnectionDef): ConnectionDef = {
    def renderAny(v: Any): Any = v match {
      case s: String if s.contains("<<") || s.contains("<%") =>
        Renderer.renderTyped(s, renderCtx)
      case s: String => s
      case m: Map[_, _] => m.map { case (k, vv) => k.toString -> renderAny(vv) }
      case l: List[_] => l.map(renderAny)
      case other => other
    }
    ConnectionDef(
      kind = c.kind,
      locator = c.locator.map(s => String.valueOf(renderAny(s))),
      params = c.params.map { case (k, v) => k -> renderAny(v) })
  }

  private def runStage(stage: Stage, future: List[(String, String)]): Unit = {
    val t0 = System.nanoTime()
    try {
      // skip_if gate (flow.py:440-441, 484-487) — INSIDE the policy
      // wrapper: a failing skip_if expression honors on_error: continue
      // like any other stage failure (the reference renders within do())
      val skipped = stage.skipIf.exists { expr =>
        Renderer.stringToBool(Renderer.renderTyped(expr, renderCtx))
      }
      // stage-declared log level applies from this stage on, like the
      // reference's `self.log.setLevel(step.log_level)` (flow.py:593-594);
      // run() restores INFO at the end (flow.py:627). Scope is the
      // engine's own logger namespace, not Spark's global log4j.
      stage.logLevel.foreach(Flow.setEngineLogLevel)
      if (skipped) {
        log.info(s"stage '${stage.name}' skipped (skip_if)")
        return
      }
      // a transform, an internal stage or a tap that is not checkpointed
      // only registers a lazy view; its work runs at the first action
      // that reads it, so only a stage that ran an action reports "done"
      val ran = execute(stage, future)
      ranAction ||= ran
      val secs = (System.nanoTime() - t0) / 1e9
      if (ran) log.info(f"stage '${stage.name}' done in $secs%.2fs")
      else log.info(f"stage '${stage.name}' registered in $secs%.2fs (lazy, no action ran)")
    } catch {
      case e: Exception =>
        if (stage.onError == "continue" || flowOnError == "continue") {
          log.warn(s"stage '${stage.name}' failed (continuing): ${e.getMessage}")
        } else {
          throw new FlowRunError(s"stage '${stage.name}' failed: ${e.getMessage}", e)
        }
    } finally {
      stage.throttle.foreach(s => Thread.sleep((s * 1000).toLong))
    }
  }

  private def connCtx(stage: Stage): ConnContext = {
    val rendered = renderConn(stage.connection.getOrElse(
      sys.error(s"stage '${stage.name}' (${stage.kind}) requires a connection")))
    ConnContext(spark, rendered, config, variables, names, context)
  }

  /** The SQL-view step of a transform, an internal stage and a sink with
    * a query: render and translate `query`, run it, and register the
    * result as the stage's view and the flow's last name. */
  private def sqlView(stage: Stage, query: String): DataFrame = {
    val view = names.register(stage.name)
    val df = spark.sql(SqlBridge.translate(renderStr(query), names, Some(spark)))
    df.createOrReplaceTempView(view)
    lastNameVar = Some(stage.name)
    df
  }

  /** Run one stage; true when it ran a Spark action: a sink, a sql
    * statement, a checkpointed tap, a loop, a `show`, or a sub-pipeline
    * one of whose stages did. */
  private def execute(stage: Stage, future: List[(String, String)]): Boolean =
      stage.kind.toLowerCase match {
    case "tap" | "source" =>
      val view = names.register(stage.name)
      val conn = Connection.resolve(connCtx(stage))
      val limit = stage.connection.flatMap(_.int("limit"))
      val query = stage.query.map(renderStr)
      val df =
        try conn.tap(query, limit)
        catch {
          case e: Exception =>
            spark.catalog.dropTempView(view) // drop on failure (flow.py:228)
            throw e
        }
      // The reference's taps are CREATE TABLE AS snapshots (flow.py:217-221).
      // Materializing EVERY tap is wasteful: snapshot semantics only matter
      // when some stage that runs LATER can rewrite this tap's source (e.g.
      // the Deltatable truncate in a loop). That is statically detectable
      // from the flow tree, so we localCheckpoint (a cache would be
      // invalidated and recomputed on rewrite — exactly the wrong behavior)
      // only taps whose source overlaps a still-future write target; all
      // other taps stay lazy and keep Catalyst pushdown into the scan.
      val checkpointed = Flow.sourceRewrittenLater(stage.connection, future, config)
      val materialized = if (checkpointed) df.localCheckpoint() else df
      materialized.createOrReplaceTempView(view)
      lastNameVar = Some(stage.name)
      postActions(stage, Some(materialized)) || checkpointed

    case "transform" =>
      postActions(stage, Some(sqlView(stage, stage.query.getOrElse(
        sys.error(s"transform '${stage.name}' requires a query")))))

    case "sink" =>
      val conn = Connection.resolve(connCtx(stage))
      val df = stage.query match {
        case Some(q) => sqlView(stage, q)
        case None =>
          val prev = lastNameVar.getOrElse(
            sys.error(s"sink '${stage.name}' has no preceding stage"))
          spark.table(names.get(prev).getOrElse(prev))
      }
      conn.sink(df)
      // keep lastname pointing at data: register sink name as alias view
      val alias = names.register(stage.name)
      df.createOrReplaceTempView(alias)
      lastNameVar = Some(stage.name)
      postActions(stage, Some(df))
      true

    case "sql" =>
      val conn = Connection.resolve(connCtx(stage))
      val q = renderStr(stage.query.getOrElse(
        sys.error(s"sql '${stage.name}' requires a query")))
      val res = conn.sqlStmt(q)
      postActions(stage, res)
      true

    case "internal" | "self" =>
      postActions(stage, Some(sqlView(stage, stage.query.getOrElse(
        sys.error(s"internal '${stage.name}' requires a query")))))

    // documentation-only stage, skipped by the runner (flow.py:591-592,
    // enums.py:48)
    case "header" => false

    case "pipeline" =>
      // a looped body re-runs: iteration k+1's writes land after iteration
      // k's taps, so the body's own writes join the sub-flow's future set
      val subFuture = future ++ (if (stagesBefore(stage))
        Flow.collectWrites(stage.stages, config) else Nil)
      val ran = lastNameVar match {
        case Some(prev) if stagesBefore(stage) && stage.parallel =>
          // opt-in PARALLEL loop (100 TB extension beyond the reference's
          // sequential semantics, SURVEY §7.4): iterations run
          // concurrently on the shared session, each with an isolated
          // variables copy and a suffixed view namespace. Divergences
          // from the sequential form, by design: iteration-local variable
          // writes are discarded, and iterations must sink to distinct
          // locators (template the path from loop_control) — concurrent
          // appends to ONE path race on the output committer.
          val prevView = names.get(prev).getOrElse(prev)
          val rows = Flow.guardedCollect(
            spark.table(prevView), s"loop over '$prev'", config.maxDriverRows)
          val failures =
            new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
          val pool = java.util.concurrent.Executors.newFixedThreadPool(
            math.min(rows.length.max(1), 8))
          try {
            rows.zipWithIndex.foreach { case (rowJson, idx) =>
              pool.submit(new Runnable {
                override def run(): Unit =
                  try {
                    val record = Json.parse(rowJson)
                    val iterVars = mutable.Map(variables.toSeq: _*)
                    iterVars.put("loop_control", record)
                    new Flow(spark, Stages(stage.stages), context, config,
                      iterVars,
                      new NameRegistry(s"__it$idx").preload(names), flowOnError,
                      subFuture, rootFlow = false)
                      .run()
                  } catch {
                    case e: Throwable => failures.add(new FlowRunError(
                      s"loop iteration failed for loop_control=$rowJson", e))
                  }
              })
            }
            pool.shutdown()
            pool.awaitTermination(24, java.util.concurrent.TimeUnit.HOURS)
          } finally pool.shutdownNow()
          if (!failures.isEmpty) throw failures.peek
          true

        case Some(prev) if stagesBefore(stage) =>
          // row-driven loop (flow.py:126-173): one sub-flow per row of the
          // previous stage; loop_control carries the row.
          val prevView = names.get(prev).getOrElse(prev)
          val rows = Flow.guardedCollect(
            spark.table(prevView), s"loop over '$prev'", config.maxDriverRows)
          // restore (not remove) so a nested loop's cleanup doesn't wipe
          // the outer loop's control row
          val saved = variables.get("loop_control")
          try {
            rows.foreach { rowJson =>
              val record = Json.parse(rowJson)
              variables.put("loop_control", record)
              val sub = new Flow(spark, Stages(stage.stages), context, config,
                variables, names, flowOnError, subFuture, rootFlow = false)
              try sub.run()
              catch {
                case e: Exception =>
                  throw new FlowRunError(
                    s"loop iteration failed for loop_control=$rowJson", e)
              }
            }
          } finally saved match {
            case Some(v) => variables.put("loop_control", v)
            case None => variables.remove("loop_control")
          }
          true
        case _ =>
          new Flow(spark, Stages(stage.stages), context, config, variables,
            names, flowOnError, subFuture, rootFlow = false).run().ranAction
      }
      // lastname propagates to the sub-pipeline's final stage — except for
      // parallel loops, whose per-iteration views are namespace-isolated
      // (their results live in the sinks each iteration wrote)
      if (!(stage.parallel && stagesBefore(stage)))
        stage.stages.lastOption.foreach(s => lastNameVar = Some(s.name))
      ran

    case other => sys.error(s"unknown stage kind: $other")
  }

  private def stagesBefore(stage: Stage): Boolean = lastNameVar.isDefined

  /** show / show_schema / explain (flow.py:61-80,119-120; §4 explain).
    * `show` previews a RANDOM sample like the reference's
    * `USING SAMPLE n ROWS / p%` (flow.py:60-74): a fraction in (0,1)
    * samples that share, an integer n ≥ 1 draws n random rows, and -1
    * prints everything. True when a `show` ran. */
  private def postActions(stage: Stage, df: Option[DataFrame]): Boolean =
      df.exists { d =>
    val shown = stage.show.collect {
      case -1 => d.show(Int.MaxValue, truncate = false)
      case f if f > 0 && f < 1 =>
        d.sample(f).show(Int.MaxValue, truncate = false)
      case n if n >= 1 =>
        d.orderBy(org.apache.spark.sql.functions.rand())
          .show(n.toInt, truncate = false)
    }.isDefined
    if (stage.showSchema) log.info(s"schema of '${stage.name}':\n" + d.schema.treeString)
    if (stage.explain) d.explain("formatted")
    shown
  }
}

object Flow {

  /** Driver-side row pull with a hard cap (reference parity is an
    * unbounded df() pull, flow.py:134-138; the cap turns a would-be OOM
    * at cluster scale into an actionable error). Fetches max+1 rows so
    * the check costs no extra job. */
  private[graft] def guardedCollect(df: DataFrame, what: String,
      max: Int): Array[String] = {
    val rows = df.toJSON.take(max + 1)
    if (rows.length > max) sys.error(
      s"$what would materialize more than $max rows on the driver; " +
        "restructure the pipeline or raise FlowConfig.maxDriverRows")
    rows
  }

  /** Any stage in the tree (nested pipelines included) declaring a
    * log_level? Decides whether run() restores INFO at the end. */
  private[core] def declaresLogLevel(stages: List[Stage]): Boolean =
    stages.exists(s => s.logLevel.isDefined || declaresLogLevel(s.stages))

  /** Set the engine ("graft" namespace) log level — the Spark/log4j2
    * equivalent of the reference's per-stage logger.setLevel. */
  private[core] def setEngineLogLevel(level: String): Unit =
    org.apache.logging.log4j.core.config.Configurator.setLevel("graft",
      org.apache.logging.log4j.Level.toLevel(level,
        org.apache.logging.log4j.Level.INFO))

  /** Connection kinds that share a storage namespace for rewrite detection:
    * a Deltatable sink compacts/drops the same parquet files a Parquet tap
    * of that path reads, so all file-backed kinds form one family. */
  private def family(kind: String): String = kind.toLowerCase match {
    case k if FileFormats.kinds.contains(k) => "file"
    case "deltatable" | "file" => "file"
    case k => k
  }

  /** Normalize a locator for overlap testing: cut at the first wildcard or
    * template marker (everything after is unknown statically), then resolve
    * relative→concrete so `out.parquet` and `/bucket/prefix/out.parquet`
    * compare equal. Comparison is prefix-overlap in either direction, which
    * errs toward snapshotting (correct, just slower) on ambiguity. */
  private def normLocator(loc: String, cfg: FlowConfig): String = {
    val cutAt = List("*", "?", "<<", "<%").map(loc.indexOf)
      .filter(_ >= 0).sorted.headOption.getOrElse(loc.length)
    graft.connections.Locator.locate(loc.substring(0, cutAt), cfg)
  }

  /** All (family, normalized locator) pairs a flow tree may write:
    * sinks rewrite their locator; sql stages may DROP/TRUNCATE/append at
    * theirs (Delta pseudo-SQL, JDBC DDL). */
  private[core] def collectWrites(stages: List[Stage],
      cfg: FlowConfig): List[(String, String)] =
    stages.flatMap { s =>
      val own = s.kind.toLowerCase match {
        case "sink" | "sql" =>
          s.connection.map(c =>
            family(c.kind) -> c.locator.map(normLocator(_, cfg)).getOrElse(""))
        case _ => None
      }
      own.toList ++ collectWrites(s.stages, cfg)
    }

  /** Does any write target in the flow overlap this tap's source? */
  private[core] def sourceRewrittenLater(conn: Option[ConnectionDef],
      writes: List[(String, String)], cfg: FlowConfig): Boolean =
    conn.exists { c =>
      val fam = family(c.kind)
      val loc = c.locator.map(normLocator(_, cfg)).getOrElse("")
      writes.exists { case (wf, wl) =>
        wf == fam && (loc.startsWith(wl) || wl.startsWith(loc))
      }
    }

  /** Convenience: run a YAML pipeline end-to-end and return the flow. */
  def runYaml(spark: SparkSession, yaml: String,
      context: Map[String, Any] = Map.empty,
      config: FlowConfig = FlowConfig(),
      variables: mutable.Map[String, Any] = mutable.Map.empty): Flow =
    new Flow(spark, Stages.load(yaml), context, config, variables).run()
}
