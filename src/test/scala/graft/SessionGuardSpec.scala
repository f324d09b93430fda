package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession

/** Structural guard over the engine sources: every session comes from
  * the one factory, functions are registered only by the one table, and
  * every md5 is computed by the one helper. Also pins where the profile's
  * static codegen-cache size lives. */
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

  test("the codegen cache size is a static conf of the builder, live on local sessions") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val want = GraftSession.staticConfs.toMap.get(key)
    // at least the 2,070 entries a full Verify at sf0.01 compiles
    assert(want.exists(_.toInt >= 2070), s"$key in staticConfs: $want")
    assert(!GraftSession.confs.exists(_._1 == key),
      s"$key is static: applyTo would throw setting it on a live session")
    val shared = SparkSuite.spark
    assert(shared.conf.get(key) == want.get, "the test session runs the shipped size")
    val local = try GraftSession.local("graft-guard").create()
      finally {
        SparkSession.setDefaultSession(shared)
        SparkSession.setActiveSession(shared)
      }
    assert(local.conf.get(key) == want.get)
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
