package perfbench

import java.nio.file.{Files, Path}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._
import graft.SparkEntry

/** The stored row count and hash of each `curate` query, one JSON object
  * per line: `{"query": "...", "rows": n, "hash": "..."}`. */
object Expected {
  private val Line = """\{"query": "([^"]+)", "rows": (\d+), "hash": "([0-9a-f]+)"\}""".r

  def read(p: Path): Map[String, Gate.QuerySum] =
    scala.io.Source.fromFile(p.toFile, "UTF-8").getLines().collect {
      case Line(q, rows, hash) => q -> Gate.QuerySum(rows.toLong, hash)
    }.toMap

  def write(p: Path, sums: Seq[(String, Gate.QuerySum)]): Unit =
    Files.writeString(p, sums.sortBy(_._1).map { case (q, s) =>
      s"""{"query": "$q", "rows": ${s.rows}, "hash": "${s.hash}"}"""
    }.mkString("", "\n", "\n"))

  /** Write each query's result as parquet plus its DuckDB oracle SQL, and
    * the fixtures as single parquet files under `fixtures/`: the layout
    * `tools/check_oracle.py <dumpDir>/fixtures <dumpDir>` reads. */
  def dump(spark: SparkSession, out: Path, queries: Seq[String], fixtures: Path): Unit = {
    Files.createDirectories(out.resolve("fixtures"))
    Curate.Tables.foreach { t =>
      val part = Files.list(fixtures.resolve(s"$t.parquet")).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.copy(part, out.resolve("fixtures").resolve(s"$t.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    queries.foreach { q =>
      SparkEntry.queries(q)(spark, fixtures.toString).write.mode("overwrite")
        .parquet(out.resolve(q).toString)
    }
    Files.writeString(out.resolve("oracle_sql.json"), queries.flatMap { q =>
      SparkEntry.oracleSql.get(q).map(sql => s"${Json.str(q)}: ${Json.str(sql)}")
    }.mkString("{", ",\n", "}"))
  }
}
