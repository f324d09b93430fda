package graft.connections

import java.sql.DriverManager
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** In-process HiveServer2 exposing the given SparkSession over JDBC
  * (`jdbc:hive2://127.0.0.1:<port>/default`).
  *
  * Two uses:
  *  - library: serve a graft session to external BI/JDBC clients — the
  *    Spark-native equivalent of the reference's server mode
  *    (ankaflow/internal/server.py exposes its engine over HTTP);
  *  - gates/tests: a loopback full-SQL JDBC endpoint for the ExternalSql
  *    connection family (p18), the same trick p14's loopback HTTP server
  *    plays for REST — the "remote" system is a real wire-protocol hop,
  *    while the data it serves comes from the fixture itself (register it
  *    as a GLOBAL temp view: thrift connections run in sibling sessions
  *    of the same SparkContext, so `global_temp.<name>` is the one
  *    namespace both sides see without `singleSession` statics).
  *
  * One server per JVM (HiveServer2 holds JVM-global service state); the
  * port is picked fresh from the ephemeral range, so parallel sbt/driver
  * JVMs never collide.
  */
object ThriftLoopback {
  @volatile private var boundPort: Int = -1

  def ensure(spark: SparkSession): Int = synchronized {
    if (boundPort > 0) return boundPort
    // the free-port grab is race-prone (another process can take it
    // between close() and HiveServer2's bind), and a failed bind would
    // fail a whole gate run — so the start + handshake gets a retry on
    // a fresh port before giving up
    var lastErr: Throwable = null
    (1 to 2).foreach { attempt =>
      if (boundPort < 0) {
        val port = {
          val ss = new java.net.ServerSocket(0)
          try ss.getLocalPort finally ss.close()
        }
        try {
          spark.sqlContext.setConf("hive.server2.thrift.bind.host", "127.0.0.1")
          spark.sqlContext.setConf("hive.server2.thrift.port", port.toString)
          HiveThriftServer2.startWithContext(spark.sqlContext)
          // HiveServer2 binds asynchronously; poll until a real JDBC
          // handshake succeeds so callers never race the startup
          val deadline = System.nanoTime() + 45L * 1000 * 1000 * 1000
          var ok = false
          while (!ok) {
            try {
              val c = DriverManager.getConnection(
                s"jdbc:hive2://127.0.0.1:$port/default", "anonymous", "")
              c.close()
              ok = true
            } catch {
              case _: Exception if System.nanoTime() < deadline =>
                Thread.sleep(200)
              case e: Exception => throw new IllegalStateException(
                s"loopback thrift handshake timed out on port $port", e)
            }
          }
          boundPort = port
        } catch {
          // retry ONLY a lost port race (BindException anywhere in the
          // cause chain): HiveServer2 holds JVM-global service state, so
          // re-running startWithContext after a server that got PAST its
          // bind (e.g. a handshake timeout) could leak a half-started
          // instance that still owns its port — those failures are final
          case e: Throwable =>
            val bindRace = Iterator.iterate(e: Throwable)(_.getCause)
              .takeWhile(_ != null).take(16)
              .exists(_.isInstanceOf[java.net.BindException])
            if (!bindRace) throw e
            lastErr = e
        }
      }
    }
    if (boundPort < 0)
      throw new IllegalStateException(
        "loopback thrift server failed to come up", lastErr)
    boundPort
  }
}
