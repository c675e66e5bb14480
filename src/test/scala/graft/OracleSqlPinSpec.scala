package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Byte-level pin of every registered oracle SQL string: `name → sha256`
  * of the exact text DuckDB runs, checked against
  * `src/test/resources/oracle_sql.tsv`. `tools/check.py` compares Spark
  * against whatever oracle the registry emits, so a refactor of the SQL
  * BUILDERS (shared CTE fragments, hoisted `mins`/`eqs` lists) that
  * changed an oracle would otherwise pass silently. No Spark: the oracle
  * strings are plain values of the registry.
  *
  * Regenerate after an INTENTIONAL oracle change (same switch as
  * GoldenPlanSpec):
  * {{{
  * GOLDEN_REGEN=1 sbt "testOnly graft.OracleSqlPinSpec"
  * git diff src/test/resources/oracle_sql.tsv
  * }}}
  */
class OracleSqlPinSpec extends AnyFunSuite {

  private val pinPath = Paths.get("src/test/resources/oracle_sql.tsv")

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  test("every registered oracle SQL string is byte-identical to its pin") {
    val now = SparkEntry.oracleSql.toSeq.sortBy(_._1)
      .map { case (name, sql) => s"$name\t${sha256(sql)}" }
    if (sys.env.get("GOLDEN_REGEN").contains("1")) {
      Files.writeString(pinPath, now.mkString("", "\n", "\n"))
      info(s"oracle pin regenerated: $pinPath (${now.size} oracles)")
    } else {
      assert(Files.exists(pinPath), s"missing pin file $pinPath")
      val pinned = Files.readString(pinPath).split("\n").filter(_.nonEmpty)
        .map { l => val Array(n, h) = l.split("\t"); n -> h }.toMap
      val got = now.map { l => val Array(n, h) = l.split("\t"); n -> h }.toMap
      val removed = (pinned.keySet -- got.keySet).toSeq.sorted
      val added = (got.keySet -- pinned.keySet).toSeq.sorted
      val changed = (pinned.keySet & got.keySet)
        .filter(k => pinned(k) != got(k)).toSeq.sorted
      assert(removed.isEmpty && added.isEmpty && changed.isEmpty,
        s"""oracle SQL drift (GOLDEN_REGEN=1 to accept an intentional change):
           |  removed: ${removed.mkString(", ")}
           |  added:   ${added.mkString(", ")}
           |  changed: ${changed.mkString(", ")}
           |""".stripMargin)
    }
  }
}
