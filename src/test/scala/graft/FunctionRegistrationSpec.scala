package graft

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite
import graft.core.GraftSession
import graft.functions.GraftFunctions

/** The engine's SQL functions are installed once per session: by the
  * factory at creation, or by `GraftFunctions.ensure` for a session the
  * caller built — never re-registered per query. */
class FunctionRegistrationSpec extends AnyFunSuite {
  private lazy val shared = SparkSuite.spark

  /** A brand-new session on the shared context. `create()` makes it the
    * default and active session, so the shared one is put back. */
  private def fresh(b: SparkSession.Builder): SparkSession = {
    shared
    try b.create()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private lazy val factory = fresh(GraftSession.builder("graft-fn-factory"))

  private def missing(s: SparkSession): Seq[String] =
    GraftFunctions.names.filterNot(s.catalog.functionExists)

  test("the table has the 16 engine functions") {
    assert(GraftFunctions.names.size == 16)
    assert(GraftFunctions.names.distinct == GraftFunctions.names)
  }

  test("a factory session resolves every function with no register call") {
    assert(missing(factory).isEmpty)
    val r = factory.sql("SELECT graft_len('héllo') AS n, " +
      "float_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d").head()
    assert(r.getAs[Any]("n").toString == "5")
    assert(r.getAs[Double]("d") == 11.0)
  }

  test("newSession() and a foreachBatch batch session inherit the functions") {
    assert(missing(factory.newSession()).isEmpty)
    implicit val sqlCtx = factory.sqlContext
    import factory.implicits._
    val input = MemoryStream[String]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]()
    val lens = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ckpt = java.nio.file.Files.createTempDirectory("graft-fn-ckpt")
    val q = input.toDF().writeStream
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        seen.add(missing(batch.sparkSession))
        batch.selectExpr("graft_len(value)").collect()
          .foreach(r => lens.add(r.get(0).toString.toLong))
      }
      .start()
    try {
      input.addData("abc", "hello")
      q.processAllAvailable()
    } finally q.stop()
    assert(!seen.isEmpty, "no micro-batch ran")
    seen.forEach(m => assert(m.isEmpty, s"batch session lacks $m"))
    assert(lens.toArray.toSet == Set(3L, 5L))
  }

  test("ensure adds each missing function once and never replaces one") {
    val plain = fresh(SparkSession.builder().appName("graft-fn-plain"))
    val registry = plain.sessionState.functionRegistry
    assert(missing(plain) == GraftFunctions.names)
    val before = registry.listFunction().size
    GraftFunctions.ensure(plain)
    assert(missing(plain).isEmpty)
    assert(registry.listFunction().size == before + 16)

    // a function the caller registered under one of the names is kept
    val id = FunctionIdentifier("graft_len")
    val builder = registry.lookupFunctionBuilder(id).get
    registry.dropFunction(id)
    registry.createOrReplaceTempFunction("graft_len", builder, "scala_udf")
    val callers = registry.lookupFunction(id).get
    GraftFunctions.ensure(plain)
    assert(registry.listFunction().size == before + 16)
    assert(registry.lookupFunction(id).get eq callers, "ensure replaced graft_len")
  }

  test("a wrong-arity call fails with the arity message") {
    val e = intercept[Exception](
      factory.sql("SELECT float_dot(array(1.0D))").collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    assert(msgs.contains("float_dot requires exactly 2 argument(s), got 1"), msgs)
  }
}
