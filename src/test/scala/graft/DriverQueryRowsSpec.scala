package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Runs every driver query as a driver does: each on a fresh session of its
  * own (`spark.newSession()`, so no graft function is registered yet, as in
  * `Verify`), over the scale-0.01 tables perfbench ships, and checks its row
  * count against its DuckDB oracle's count on the same tables
  * (`oracle_rows.tsv` beside them). A query that relies on another query
  * having registered the graft functions first fails here.
  */
class DriverQueryRowsSpec extends AnyFunSuite {
  private lazy val spark = SparkSessionTestWrapper.spark
  private val sfDir = Paths.get("perfbench/testdata/sf0.01")

  private lazy val oracleRows: Map[String, Long] =
    Files.readAllLines(sfDir.resolve("oracle_rows.tsv"), StandardCharsets.UTF_8)
      .asScala.filter(_.nonEmpty).map { line =>
        val Array(name, n) = line.split('\t')
        name -> n.toLong
      }.toMap

  test("every driver query has an oracle row count") {
    assert(oracleRows.keySet == SparkEntry.queries.keySet)
  }

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, query) =>
    test(s"$name on a fresh session returns its oracle's row count") {
      val rows = query(spark.newSession(), sfDir.toString).collect().length
      assert(oracleRows.get(name).contains(rows.toLong), s"$name: $rows rows")
    }
  }
}
