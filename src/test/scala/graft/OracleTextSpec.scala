package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The DuckDB oracle texts, pinned by SHA-256. Tier-1 runs no DuckDB, so
  * without this pin a shared string helper (`dotDuck`, `planeSql`, a
  * family's common CTE chain) could rewrite dozens of oracles and only
  * the full `Verify` + `tools/check_oracle.py` gate would notice. An
  * oracle is never edited to get a pass: a mismatch here means the
  * change rewrote what the engine is checked against.
  *
  * `oracle_sql.sha256` holds one `<query>\t<sha256 hex>` line per
  * `SparkEntry.oracleSql` entry, hashed over the text's UTF-8 bytes. To
  * re-record it after a deliberate oracle change, hash the
  * `oracle_sql.json` that `Verify` writes, one line per key in key
  * order. */
class OracleTextSpec extends AnyFunSuite {
  private val pinned: Map[String, String] = {
    val in = getClass.getResourceAsStream("/oracle_sql.sha256")
    require(in != null, "test resource oracle_sql.sha256 is missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty)
      .map { l => val Array(k, v) = l.split("\t"); k -> v }.toMap
    finally in.close()
  }

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("the set of queries with an oracle is the pinned set") {
    val live = SparkEntry.oracleSql.keySet
    assert((live -- pinned.keySet).isEmpty, "oracles not pinned")
    assert((pinned.keySet -- live).isEmpty, "pinned oracles gone")
  }

  test("every oracle text hashes to its pinned SHA-256") {
    val changed = SparkEntry.oracleSql.toSeq.sortBy(_._1).collect {
      case (k, sql) if pinned.get(k).exists(_ != sha256(sql)) => k
    }
    assert(changed.isEmpty, s"oracle text changed: ${changed.mkString(", ")}")
  }
}
