package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.{
  BloomFilterMightContain, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** The engine's native SQL functions, as one table.
  *
  * Sessions built by [[graft.core.GraftSession]] get the table at
  * creation through [[install]] (a `SparkSessionExtensions` hook), so
  * `newSession()` and foreachBatch's cloned batch sessions inherit it.
  * A session the caller built without the factory gets it from
  * [[ensure]], called once at each public entry point that accepts a
  * caller's session or frame.
  */
object GraftFunctions {
  /** (SQL name, argument count, expression builder). */
  val table: Seq[(String, Int, FunctionBuilder)] = Seq(
    ("float_dot", 2, e => FloatDot(e(0), e(1))),
    ("graft_len", 1, e => PolyLen(e(0))),
    ("word_shingles", 1, e => WordShingles(e(0))),
    ("word_ngrams", 2, e => WordNGrams(e(0), e(1))),
    // legacy alias from when only the bigram case existed
    ("word_bigrams", 1, e => WordNGrams(e(0), Literal(2))),
    ("ngram_stats", 2, e => NGramStats(e(0), e(1))),
    ("char_entropy_stats", 1, e => CharEntropyStats(e(0))),
    ("winnow_fps", 3, e => WinnowFps(e(0), e(1), e(2))),
    ("minhash8", 1, e => MinHash8(e(0))),
    ("simhash16", 1, e => SimHash(e(0), 16)),
    ("simhash64", 1, e => SimHash(e(0), 64)),
    ("simhash128", 1, e => SimHash(e(0), 128)),
    ("hyperplane_buckets64", 1, e => HyperplaneBuckets64(e(0))),
    ("hyperplane_bands", 3, e => HyperplaneBands(e(0), e(1), e(2))),
    // Spark ships these two (the runtime-filter machinery's Bloom build
    // and probe, spark-catalyst aggregate/BloomFilterAggregate.scala)
    // but gives them no SQL name in 4.1 — surface them for t43's
    // Bloom-pruned decontamination. Analyzer wraps the returned
    // AggregateFunction in an AggregateExpression as for any builtin.
    ("bloom_filter_agg", 3, e => new BloomFilterAggregate(e(0), e(1), e(2))),
    ("might_contain", 2, e => BloomFilterMightContain(e(0), e(1))))

  val names: Seq[String] = table.map(_._1)

  /** Fail with a clear message (not an IndexOutOfBounds from exprs(i))
    * when a SQL call passes the wrong argument count. */
  private def arity(name: String, n: Int)(f: FunctionBuilder): FunctionBuilder =
    exprs => {
      require(exprs.length == n,
        s"$name requires exactly $n argument(s), got ${exprs.length}")
      f(exprs)
    }

  private val descriptions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] =
    table.map { case (name, n, f) =>
      (FunctionIdentifier(name),
        new ExpressionInfo(getClass.getCanonicalName, null, name, null,
          "", "", "", "", "", "", "built-in"),
        arity(name, n)(f))
    }

  /** Session-creation hook: `builder.withExtensions(GraftFunctions.install)`. */
  def install(ext: SparkSessionExtensions): Unit =
    descriptions.foreach(ext.injectFunction)

  /** Register only the names missing from `spark`'s registry. A session
    * built with [[install]] has them all, so this is a read-only check;
    * nothing is ever replaced, so nothing is logged. */
  def ensure(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    registry.synchronized {
      descriptions.foreach { case (id, info, f) =>
        if (!registry.functionExists(id)) registry.registerFunction(id, info, f)
      }
    }
  }
}
