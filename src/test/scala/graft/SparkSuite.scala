package graft

import org.apache.spark.sql.SparkSession

/** Shared session for all suites (one JVM-wide session, cheap getOrCreate).
  * Test-sized confs, not the shipped profile, but the same function table
  * as [[graft.core.GraftSession]]: installed at creation, so no suite
  * registers functions itself. */
object SparkSuite {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .withExtensions(graft.functions.GraftFunctions.install)
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
}
