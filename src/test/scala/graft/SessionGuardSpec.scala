package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SQLConf
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** Structural guard over the engine sources: every session comes from
  * the one factory, functions are registered only by the one table, every
  * md5 is computed by the one helper, and no session artifact is added.
  * Also pins that every profile key is a conf Spark knows and where the
  * builder-only keys live. */
class SessionGuardSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  /** (path under `root`, line number, line) of each match. */
  private def hits(needle: String): Seq[(String, Int, String)] = {
    assert(Files.isDirectory(root), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.flatMap { f: Path =>
      val rel = root.relativize(f).toString.replace('\\', '/')
      Files.readAllLines(f).asScala.zipWithIndex.collect {
        case (line, i) if line.contains(needle) => (rel, i + 1, line.trim)
      }
    }
  }

  private def report(found: Seq[(String, Int, String)]): String =
    found.map { case (f, n, l) => s"$f:$n: $l" }.mkString("\n")

  /** A session from [[GraftSession.local]] on the running context; the
    * suite's shared session stays the default and active one. */
  private def localSession(): SparkSession = {
    val shared = SparkSuite.spark
    try GraftSession.local("graft-guard").create()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("the codegen cache size is a static conf of the builder, live on local sessions") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val want = GraftSession.staticConfs.toMap.get(key)
    // at least the 2,070 entries a full Verify at sf0.01 compiles
    assert(want.exists(_.toInt >= 2070), s"$key in staticConfs: $want")
    assert(!GraftSession.confs.exists(_._1 == key),
      s"$key is static: applyTo would throw setting it on a live session")
    assert(SparkSuite.spark.conf.get(key) == want.get, "the test session runs the shipped size")
    assert(localSession().conf.get(key) == want.get)
  }

  test("every profile key is a conf Spark registers and reads back on a local session") {
    // a misspelt key would be set without error and change nothing
    val profile = GraftSession.confs ++ GraftSession.staticConfs
    val local = localSession()
    val known = (k: String) => local.conf.isModifiable(k) || SQLConf.isStaticConfigKey(k)
    val unknown = profile.map(_._1).filterNot(known)
    assert(unknown.isEmpty, s"not a registered Spark SQL conf: ${unknown.mkString(", ")}")
    val drift = profile
      .map { case (k, v) => (k, local.conf.get(k), GraftSession.localSizing.getOrElse(k, v)) }
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
    val found = Seq("addArtifact", "addJar", "addFile", "addArchive").flatMap(hits)
      .filterNot { case (_, _, l) => l.startsWith("*") || l.startsWith("/*") || l.startsWith("//") }
    assert(found.isEmpty,
      "put jars on the classpath instead of adding session artifacts:\n" + report(found))
  }

  test("SparkSession.builder( appears only in core/GraftSession.scala") {
    val found = hits("SparkSession.builder(")
    assert(found.nonEmpty, "the factory itself should match")
    val outside = found.filterNot(_._1 == "graft/core/GraftSession.scala")
    assert(outside.isEmpty,
      "build sessions with GraftSession.builder / GraftSession.local:\n" + report(outside))
  }

  test("createOrReplaceTempFunction appears only under functions/") {
    val outside = hits("createOrReplaceTempFunction").filterNot(_._1.startsWith("graft/functions/"))
    assert(outside.isEmpty,
      "add engine functions to GraftFunctions.table:\n" + report(outside))
  }

  test("MessageDigest.getInstance appears only in functions/Md5.scala") {
    val found = hits("MessageDigest.getInstance")
    assert(found.nonEmpty, "the helper itself should match")
    val outside = found.filterNot(_._1 == "graft/functions/Md5.scala")
    assert(outside.isEmpty,
      "hash with graft.functions.Md5 (one digest per thread, one hex and " +
        "word reading):\n" + report(outside))
  }
}
