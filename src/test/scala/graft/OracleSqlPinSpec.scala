package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the text an external gate reads: the sha256 of every
  * `SparkEntry.oracleSql` entry and the set of `SparkEntry.queries` names,
  * against the checked-in `oracle_sql.sha256`. A change to either must
  * show up as a change to that file.
  */
class OracleSqlPinSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  private def rendered: String =
    (SparkEntry.oracleSql.toSeq.sortBy(_._1).map { case (name, sql) =>
      s"oracle\t$name\t${sha256(sql)}"
    } ++ SparkEntry.queries.keys.toSeq.sorted.map(name => s"query\t$name"))
      .mkString("", "\n", "\n")

  test("oracle SQL text and query names match the pinned hashes") {
    val golden = new String(
      getClass.getResourceAsStream("/oracle_sql.sha256").readAllBytes(),
      StandardCharsets.UTF_8)
    val actual = rendered
    if (actual != golden) {
      val out = Paths.get("target", "oracle_sql.sha256.actual")
      Files.createDirectories(out.getParent)
      Files.write(out, actual.getBytes(StandardCharsets.UTF_8))
      fail(s"oracle SQL pin mismatch; current hashes written to $out")
    }
  }
}
