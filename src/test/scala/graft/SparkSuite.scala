package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.MapType
import graft.core.GraftSession

/** Shared session for all suites (one JVM-wide session, cheap getOrCreate):
  * the shipped profile, [[graft.core.GraftSession.local]], so every spec
  * runs the confs that Verify, Bench, Main and perfbench run. Its one
  * extra setting is `spark.sql.maxMetadataStringLength`, which only
  * widens plan text: PlanSpec's q02 reads `PushedFilters` from it. The
  * worker-thread count is `SPARK_GRAFT_CPUS`, which build.sbt pins to 4
  * for the test JVM (the digest pins and job ceilings were recorded on
  * `local[4]`). */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = GraftSession.local("graft-test")
      .config("spark.sql.maxMetadataStringLength", "2000")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Jobs `body` runs, counted by job group through the public status
    * tracker. The tracker fills from the listener bus after the action
    * returns, so the count is read once it has held still for 5 polls. */
  def jobsOf(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"jobs-${java.util.UUID.randomUUID}"
    sc.setJobGroup(group, group)
    try body finally sc.clearJobGroup()
    def count = sc.statusTracker.getJobIdsForGroup(group).length
    var (last, still) = (count, 0)
    while (still < 5) {
      Thread.sleep(50)
      val n = count
      if (n == last) still += 1 else { last = n; still = 0 }
    }
    last
  }

  /** `rows:lo:hi:schema`, the order-insensitive digest perfbench records
    * in `perfbench/goldens.json`: the row count, the sums of the low and
    * high 32 bits of each row's xxhash64, and the hash of the schema. */
  def digest(df: DataFrame): String = {
    val cols = df.schema.fields.toSeq.map { f =>
      val c = col("`" + f.name.replace("`", "``") + "`")
      f.dataType match {
        case _: MapType => array_sort(map_entries(c))
        case _ => c
      }
    }
    val h = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)),
      coalesce(sum(h.bitwiseAND(lit(0xFFFFFFFFL))), lit(0L)),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L))).head()
    val schema = df.schema.fields.map(f => s"${f.name}:${f.dataType.simpleString}")
      .mkString(",")
    f"${r.getLong(0)}%d:${r.getLong(1)}%d:${r.getLong(2)}%d:${schema.hashCode}%08x"
  }
}
