package graft

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll
import graft.connections.{FlowConfig, Locator}
import graft.sqlbridge.{FnMacros, SqlBridge}
import graft.sqlbridge.SqlText.{render, tokenize}
import graft.template.Renderer

/** Property-based invariants (ScalaCheck — a strict upgrade over the
  * reference's example-based tests, SURVEY §5). */
object EnginePropsSpec extends Properties("engine") {

  // ---- truthiness (reference string_to_bool, util.py:169-188) ----

  private val falsy = Set("false", "0", "0.0", "none", "", "[]", "{}", "()")

  property("stringToBool: falsy set is exactly the reference's") =
    forAll(Gen.oneOf(falsy.toSeq)) { s =>
      !Renderer.stringToBool(s) && !Renderer.stringToBool(s.toUpperCase)
    }

  property("stringToBool: any other word is truthy") =
    forAll(Gen.alphaStr.suchThat(s => !falsy.contains(s.toLowerCase) && s.nonEmpty)) {
      s => Renderer.stringToBool(s)
    }

  // ---- locator resolution (connection.py:40-121) ----

  private val cfg = FlowConfig(bucket = Some("s3://bucket"),
    dataPrefix = Some("prefix"))

  property("locate: absolute paths pass through untouched") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { p =>
      Locator.locate(s"/abs/$p", cfg) == s"/abs/$p" &&
        Locator.locate(s"gs://x/$p", cfg) == s"gs://x/$p"
    }

  property("locate: relative paths get bucket/prefix") =
    forAll(Gen.alphaNumStr.suchThat(_.nonEmpty)) { p =>
      Locator.locate(p, cfg) == s"s3://bucket/prefix/$p"
    }

  property("locate: wildcard rewrite applies before resolution") = Prop {
    val c = FlowConfig(bucket = Some("s3://b"),
      locatorWildcards = List(("\\{env\\}", "prod")))
    Locator.locate("{env}/data.parquet", c) == "s3://b/prod/data.parquet"
  }

  // ---- name registry (stage name → Spark view identifier) ----

  private val stageNameGen: Gen[String] = for {
    head <- Gen.alphaChar
    body <- Gen.listOf(Gen.oneOf(Gen.alphaNumChar, Gen.const(' '),
      Gen.const('-'), Gen.const('.')))
  } yield (head :: body).mkString

  property("registry: mangled names are valid Spark identifiers") =
    forAll(stageNameGen) { name =>
      val reg = new SqlBridge.NameRegistry
      val v = reg.register(name)
      v.matches("[A-Za-z_][A-Za-z0-9_]*")
    }

  property("registry: distinct stage names never collide") =
    forAll(Gen.listOfN(5, stageNameGen)) { names =>
      val reg = new SqlBridge.NameRegistry
      val views = names.distinct.map(reg.register)
      views.distinct.size == views.size
    }

  property("registry: registering twice is idempotent") =
    forAll(stageNameGen) { name =>
      val reg = new SqlBridge.NameRegistry
      reg.register(name) == reg.register(name)
    }

  // ---- macro expansion ----

  property("expand: SQL without Fn. calls is returned verbatim") =
    forAll(Gen.alphaNumStr) { s =>
      val sql = s"SELECT $s FROM t"
      render(FnMacros.expand(tokenize(sql))) == sql
    }

  property("expand: arithmetic macros compose for any int pair") =
    forAll(Gen.chooseNum(-1000, 1000), Gen.chooseNum(-1000, 1000)) { (a, b) =>
      val out = render(FnMacros.expand(tokenize(s"SELECT Fn.add($a, $b) AS x")))
      out.contains(s"(($a) + ($b))")
    }

  // ---- bounded top-k core (t34/t38/t39's partition-local prune) ----

  property("boundedTopK: equals groupBy+sort+take(k) for any input and k") =
    forAll(
      Gen.listOf(Gen.zip(Gen.oneOf("a", "b", "c"),
        Gen.zip(Gen.chooseNum(-50L, 50L), Gen.chooseNum(0L, 20L)))),
      Gen.chooseNum(1, 6)) { (rows, k) =>
      val got = graft.queries.Curation.boundedTopK(rows.iterator, k)
        .toSeq.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
      val want = rows.groupBy(_._1).view
        .mapValues(_.map(_._2).sorted.take(k)).toMap
      // per group: same entries, already in sorted order
      got.keySet == want.keySet && want.forall { case (g, w) => got(g) == w }
    }

  // ---- ranked-query builder ----

  property("rankedQuery: always filters __rank__ = 1 and partitions by all keys") =
    forAll(Gen.nonEmptyListOf(Gen.identifier).map(_.distinct.take(4))) { keys =>
      Prop.propBoolean(keys.nonEmpty) ==> Prop {
        val q = SqlBridge.rankedQuery("SELECT * FROM t", "v", keys)
        q.contains("__rank__ = 1") &&
          keys.forall(k => q.contains(s"`$k`"))
      }
    }
}
