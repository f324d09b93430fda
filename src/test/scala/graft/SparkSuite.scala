package graft

import org.apache.spark.sql.SparkSession
import graft.core.GraftSession

/** Shared session for all suites (one JVM-wide session, cheap getOrCreate).
  * Test-sized confs, not the shipped profile, but the same function table
  * as [[graft.core.GraftSession]]: installed at creation, so no suite
  * registers functions itself. It also takes the profile's static confs:
  * the codegen cache is sized by the first session that compiles, and
  * that is this one, so the specs run with the shipped size. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.functions.GraftFunctions.install)
      .config(GraftSession.staticConfs.toMap)
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.maxMetadataStringLength", "2000")
      .config("spark.ui.enabled", "false")
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
}
