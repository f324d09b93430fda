package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** Structural guard over the engine sources: every session comes from
  * the one factory (in the specs too, whose shared session is the shipped
  * profile), functions are registered only by the one table, every
  * md5 is computed by the one helper, no session artifact is added, and
  * table files are listed by one rule on Hadoop FileSystem.
  * Also pins that every profile key is a conf Spark knows, reads back on
  * the specs' shared session, and where the builder-only keys live. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")
  private val testRoot = Paths.get("src/test/scala")
  // spelt in two parts, so that this file does not match its own guard
  private val builderCall = "SparkSession" + ".builder("

  /** (path under `under`, line number, line) of each match. */
  private def hits(needle: String, under: Path = root): Seq[(String, Int, String)] = {
    assert(Files.isDirectory(under), s"$under not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(under).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      val rel = under.relativize(f).toString.replace('\\', '/')
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => (rel, i + 1, line.trim)
      }
    }
  }

  private def report(found: Seq[(String, Int, String)]): String =
    found.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  test("the codegen cache size is a static conf of the builder, live on local sessions") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val want = GraftSession.staticConfs.toMap.get(key)
    // at least the 2,070 entries a full Verify at sf0.01 compiles
    assert(want.exists(_.toInt >= 2070), s"$key in staticConfs: $want")
    assert(!GraftSession.confs.exists(_._1 == key),
      s"$key is static: applyTo would throw setting it on a live session")
    assert(SparkSuite.spark.conf.get(key) == want.get, "the test session runs the shipped size")
  }

  test("every profile key is a conf Spark registers and reads back on a local session") {
    // a misspelt key would be set without error and change nothing; the
    // session read is the specs' own, so they run what ships
    val profile = GraftSession.confs ++ GraftSession.staticConfs
    val shared = SparkSuite.spark
    val known = (k: String) => shared.conf.isModifiable(k) || SQLConf.isStaticConfigKey(k)
    val unknown = profile.map(_._1).filterNot(known)
    assert(unknown.isEmpty, s"not a registered Spark SQL conf: ${unknown.mkString(", ")}")
    val drift = profile
      .map { case (k, v) => (k, shared.conf.get(k), GraftSession.localSizing.getOrElse(k, v)) }
      .filter { case (_, got, want) => got != want }
    assert(drift.isEmpty, drift.map { case (k, got, want) => s"$k = $got, profile wants $want" }
      .mkString("\n"))
  }

  test("artifact isolation is off, set by the builder only") {
    val key = "spark.sql.artifact.isolation.enabled"
    assert(GraftSession.staticConfs.toMap.get(key).contains("false"))
    assert(!GraftSession.confs.exists(_._1 == key),
      s"$key is read when a session is created: applyTo would change nothing")
    assert(SparkSuite.spark.conf.get(key) == "false", "the test session runs the shipped value")
  }

  test("no session artifact is added in src/main/scala") {
    // with artifact isolation off, every session of a context shares the
    // executor's default loader, so an artifact would reach them all
    val found = Seq("addArtifact", "addJar", "addFile", "addArchive").flatMap(hits(_))
      .filterNot { case (_, _, l) => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//") }
    assert(found.isEmpty,
      "put jars on the classpath instead of adding session artifacts:\n" + report(found))
  }

  test(s"$builderCall appears only in core/GraftSession.scala") {
    val found = hits(builderCall)
    assert(found.nonEmpty, "the factory itself should match")
    val outside = found.filterNot(_._1 == "graft/core/GraftSession.scala")
    assert(outside.isEmpty,
      "build sessions with GraftSession.builder / GraftSession.local:\n" + report(outside))
  }

  test(s"$builderCall appears in src/test/scala only for the plain session of FunctionRegistrationSpec") {
    // that session exists to test GraftFunctions.ensure on a session built
    // outside the factory; every other spec runs SparkSuite.spark
    val found = hits(builderCall, testRoot)
    val outside = found.filterNot { case (f, _, l) =>
      f == "graft/FunctionRegistrationSpec.scala" && l.contains("\"graft-fn-plain\"")
    }
    assert(outside.isEmpty,
      "run specs on SparkSuite.spark, the shipped GraftSession.local profile:\n" +
        report(outside))
  }

  test("createOrReplaceTempFunction appears only under functions/") {
    val outside = hits("createOrReplaceTempFunction").filterNot(_._1.startsWith("graft/functions/"))
    assert(outside.isEmpty,
      "add engine functions to GraftFunctions.table:\n" + report(outside))
  }

  test("DeltaConnection touches table files only through Hadoop FileSystem") {
    // java.nio resolves a URI locator as a relative local path
    val f = root.resolve("graft/connections/DeltaConnection.scala")
    val nio = "(java\\.nio\\.file|\\bFiles\\.|\\bPaths\\.)".r
    val found = Files.readAllLines(f).asScala.zipWithIndex.collect {
      case (line, i) if nio.findFirstIn(line).nonEmpty =>
        ("graft/connections/DeltaConnection.scala", i + 1, line.trim)
    }.toSeq
    assert(found.isEmpty,
      "use the table path's Hadoop FileSystem (fs) instead:\n" + report(found))
  }

  test("the hidden-segment rule for table files lives only in connections/FileFormats.scala") {
    val found = Seq("startsWith(\"_\")", "startsWith(\".\")").flatMap(hits(_))
    assert(found.nonEmpty, "the lister itself should match")
    val outside = found.filterNot(_._1 == "graft/connections/FileFormats.scala")
    assert(outside.isEmpty,
      "list table files with FileFormats.parquetFiles:\n" + report(outside))
  }

  test("MessageDigest.getInstance appears only in functions/Md5.scala") {
    val found = hits("MessageDigest.getInstance")
    assert(found.nonEmpty, "the helper itself should match")
    val outside = found.filterNot(_._1 == "graft/functions/Md5.scala")
    assert(outside.isEmpty,
      "hash with graft.functions.Md5 (one digest per thread, one hex and " +
        "word reading):\n" + report(outside))
  }

  test("sparkContext.hadoopConfiguration appears only in its two writers") {
    // reads build their FileSystem from spark.sessionState.newHadoopConf(),
    // so a session-scoped fs.* conf reaches them as it reaches Spark's reads
    val writers = Set("graft/connections/CloudSecrets.scala", "graft/core/Flow.scala")
    val found = hits("sparkContext" + ".hadoopConfiguration")
    assert(writers.forall(w => found.exists(_._1 == w)), "the writers themselves should match")
    val outside = found.filterNot(f => writers(f._1))
    assert(outside.isEmpty,
      "build a FileSystem from spark.sessionState.newHadoopConf():\n" + report(outside))
  }
}
