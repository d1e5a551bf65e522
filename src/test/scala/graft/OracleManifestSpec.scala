package graft

import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** The oracle SQL is the correctness check itself, so a refactor of the
  * query families must not move a byte of it. `oracle_sql.md5` pins one
  * md5 per `SparkEntry.oracleSql` entry, taken over the UTF-8 bytes of
  * the map value as returned (before Verify's `__AUX__` substitution).
  * Regenerate it only for a deliberate oracle change. */
class OracleManifestSpec extends AnyFunSuite {

  private val Entries = 383

  private def md5(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString

  private def manifest: Map[String, String] = {
    val src = scala.io.Source.fromInputStream(
      getClass.getResourceAsStream("/oracle_sql.md5"), "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(hash, name) = line.split("  ", 2)
      name -> hash
    }.toMap
    finally src.close()
  }

  test("every oracle SQL string matches its pinned md5") {
    val pinned = manifest
    val actual = SparkEntry.oracleSql.map { case (k, v) => k -> md5(v) }
    val missing = pinned.keySet -- actual.keySet
    val extra = actual.keySet -- pinned.keySet
    val changed = (pinned.keySet & actual.keySet)
      .filter(k => pinned(k) != actual(k))
    assert(missing.isEmpty, s"oracles missing: ${missing.toSeq.sorted}")
    assert(extra.isEmpty, s"oracles not in the manifest: ${extra.toSeq.sorted}")
    assert(changed.isEmpty, s"oracle SQL changed: ${changed.toSeq.sorted}")
    assert(pinned.size == Entries)
  }

  test("every query body has an oracle and every oracle a body") {
    val bodies = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((bodies -- oracles).isEmpty,
      s"bodies without an oracle: ${(bodies -- oracles).toSeq.sorted}")
    assert((oracles -- bodies).isEmpty,
      s"oracles without a body: ${(oracles -- bodies).toSeq.sorted}")
    assert(bodies.size == Entries && oracles.size == Entries)
  }
}
