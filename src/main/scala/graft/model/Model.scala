package graft.model

import scala.jdk.CollectionConverters._

/** Pipeline definition model.
  *
  * Mirrors the reference's YAML schema (ankaflow/models/core.py:44-326,
  * ankaflow/models/connections.py) as plain Scala data. Parsing is
  * deliberately dynamic (SnakeYAML → java maps → converters) because the
  * reference's schema is open: connection params vary per kind and unknown
  * keys flow through to readers as options.
  */
final case class ColumnDef(name: String, dtype: String)

/** The one reading of a YAML scalar as a flag or a number. */
object YamlScalar {
  /** A YAML boolean, or a string: `true` in any case is true, any other
    * string false. Other values are no flag. */
  def bool(v: Any): Option[Boolean] = v match {
    case b: Boolean => Some(b)
    case s: String => Some(s.toLowerCase == "true")
    case _ => None
  }

  /** A YAML int, long or float, or a string that parses as a double
    * (else `NumberFormatException`). Other values are no number. */
  def double(v: Any): Option[Double] = v match {
    case i: Int => Some(i.toDouble)
    case l: Long => Some(l.toDouble)
    case d: Double => Some(d)
    case s: String => Some(s.toDouble)
    case _ => None
  }
}

/** A connection definition on a tap/sink/sql stage.
  *
  * `kind` selects the implementation (parquet/csv/json/file/variable/
  * deltatable/rest/sqlgen/custom...); `locator` is the path/table/url;
  * everything else stays in `params` and is interpreted per connection.
  */
final case class ConnectionDef(
    kind: String,
    locator: Option[String],
    params: Map[String, Any]) {

  def str(key: String): Option[String] =
    params.get(key).collect { case s if s != null => s.toString }

  def int(key: String): Option[Int] = params.get(key).collect {
    case i: Int => i
    case l: Long => l.toInt
    case s: String => s.toInt
  }

  def bool(key: String, default: Boolean = false): Boolean =
    params.get(key).flatMap(YamlScalar.bool).getOrElse(default)

  def strList(key: String): List[String] = params.get(key) match {
    case Some(l: List[_]) => l.map(_.toString)
    case Some(s: String) => List(s)
    case _ => Nil
  }

  def map(key: String): Map[String, Any] = params.get(key) match {
    case Some(m: Map[_, _]) => m.map { case (k, v) => k.toString -> v }
    case _ => Map.empty
  }

  /** Declared schema (`fields`) — used to stabilize empty/ragged sources. */
  def fields: List[ColumnDef] = params.get("fields") match {
    case Some(l: List[_]) => l.collect {
      case m: Map[_, _] =>
        val mm = m.map { case (k, v) => k.toString -> v }
        ColumnDef(mm("name").toString, mm.getOrElse("type", "STRING").toString)
    }
    case _ => Nil
  }

  /** Versioned-dedup config (SURVEY §2.5). */
  def version: Option[String] = str("version")
  def keys: List[String] = strList("key")
}

final case class Stage(
    kind: String,                       // tap|source|transform|sink|sql|internal|self|pipeline
    name: String,
    connection: Option[ConnectionDef] = None,
    query: Option[String] = None,
    skipIf: Option[String] = None,
    show: Option[Double] = None,      // n rows (>1), fraction (0..1), -1 = all
    showSchema: Boolean = false,
    explain: Boolean = false,
    stages: List[Stage] = Nil,
    parallel: Boolean = false,          // pipeline loops: concurrent iterations
    onError: String = "fail",           // fail|continue
    throttle: Option[Double] = None,
    logLevel: Option[String] = None,
    locator: Option[String] = None)

final case class Stages(stages: List[Stage])

object Stages {

  /** Load a pipeline from YAML text OR a path to a YAML file (reference:
    * Stages.load, ankaflow/models/core.py:378-429 — a parse that yields a
    * plain string is re-tried as a filename). Accepts either a bare list
    * of stages or a map with a `stages` key. */
  def load(yamlText: String): Stages = {
    val yaml = new org.yaml.snakeyaml.Yaml()
    val root = yaml.load[Object](yamlText) match {
      case s: String =>
        val p = try java.nio.file.Paths.get(s) catch {
          case _: java.nio.file.InvalidPathException =>
            sys.error(s"could not interpret '$s' as YAML or a file path")
        }
        if (java.nio.file.Files.isRegularFile(p))
          yaml.load[Object](new String(
            java.nio.file.Files.readAllBytes(p), "UTF-8"))
        else sys.error(s"could not interpret '$s' as YAML or a file path")
      case other => other
    }
    val stageList = root match {
      case l: java.util.List[_] => l.asScala.toList
      case m: java.util.Map[_, _] =>
        m.asInstanceOf[java.util.Map[String, Object]].asScala
          .get("stages").map {
            case l: java.util.List[_] => l.asScala.toList
            case other => sys.error(s"stages must be a list, got $other")
          }.getOrElse(sys.error("YAML root map has no 'stages' key"))
      case other => sys.error(s"unsupported YAML root: $other")
    }
    Stages(stageList.map(s => parseStage(toScala(s))))
  }

  def loadFile(path: String): Stages =
    load(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  /** Recursively convert SnakeYAML java structures to Scala. */
  def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, vv) => k.toString -> toScala(vv) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toList
    case other => other
  }

  private def asMap(v: Any): Map[String, Any] = v match {
    case m: Map[_, _] => m.map { case (k, vv) => k.toString -> vv }
    case other => sys.error(s"expected map, got $other")
  }

  def parseStage(raw: Any): Stage = {
    val m = asMap(raw)
    def strOpt(k: String): Option[String] =
      m.get(k).collect { case v if v != null => v.toString }
    def flag(k: String): Boolean = m.get(k).flatMap(YamlScalar.bool).getOrElse(false)
    val kind = strOpt("kind").getOrElse(sys.error(s"stage missing kind: $m"))
    val name = strOpt("name").getOrElse(sys.error(s"stage missing name: $m"))
    val conn = m.get("connection").map { c =>
      val cm = asMap(c)
      ConnectionDef(
        kind = cm.getOrElse("kind", sys.error(s"connection missing kind in $name")).toString,
        locator = cm.get("locator").collect { case v if v != null => v.toString },
        params = cm - "kind" - "locator")
    }
    Stage(
      kind = kind,
      name = name,
      connection = conn,
      query = strOpt("query"),
      skipIf = strOpt("skip_if"),
      show = m.get("show").flatMap(YamlScalar.double),
      showSchema = flag("show_schema"),
      explain = flag("explain"),
      stages = m.get("stages") match {
        case Some(l: List[_]) => l.map(parseStage)
        case _ => Nil
      },
      parallel = flag("parallel"),
      onError = strOpt("on_error").getOrElse("fail"),
      throttle = m.get("throttle").flatMap(YamlScalar.double),
      logLevel = strOpt("log_level"),
      locator = strOpt("locator"))
  }
}
