package perfbench

import java.nio.file.{Files, Path}
import java.sql.{DriverManager, SQLException}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._
import graft.SparkEntry
import graft.app.ConverterApp
import graft.catalog.Catalog
import graft.config.{ConvertMode, ConverterConfig, Dialect}
import graft.ddl.DdlGenerator
import graft.delete.{DeletePlanner, DeleteStrategy}

/** One timed round: its own wall time (untimed checks excluded), the
  * operations it attempted and failed, the rows it delivered, and
  * layer values measured from the outside (spans, program reports). */
final case class RoundResult(seconds: Double, attempted: Long, failed: Long, rows: Long,
    detail: Map[String, Double])

trait Workload {
  /** Build the inputs; runs several times, each build replacing the last. */
  def setup(i: Int): Unit
  /** Untimed set-up that must follow the last build; returns its seconds. */
  def afterSetup(): Double = 0.0
  def round(r: Int): RoundResult
  /** Corrupt one output so the gate must trip (self-test only); returns
    * the start of the mismatch the gate must then report. */
  def inject(): String
  /** Correctness gate over the outputs; returns the mismatches. */
  def gate(): Seq[String]
  /** Mismatches found inside rounds (checks that must run between phases). */
  val roundFailures: ArrayBuffer[String] = ArrayBuffer.empty
}

object Workload {
  def nanos[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val v = body; (v, (System.nanoTime() - t0) / 1e9)
  }

  /** Drop an in-memory Derby database; Derby reports success as 08006. */
  def dropDb(url: String): Unit =
    try DriverManager.getConnection(url + ";drop=true").close()
    catch { case _: SQLException => () }

  def withDb[T](url: String, create: Boolean = false)(f: java.sql.Connection => T): T = {
    val c = DriverManager.getConnection(if (create) url + ";create=true" else url)
    try f(c)
    finally {
      // a failure inside `f` may leave a transaction open; close anyway so
      // the failure, not the close, is what propagates
      if (!c.getAutoCommit) c.rollback()
      c.close()
    }
  }

  private val ConvertLine =
    """\[convert\] (\S+): (\d+) records, (\d+) bytes, rowsPerCommit=(\d+), (\d+) ms""".r

  /** Run `ConverterApp.run` and read its per-table copy reports. */
  def convert(spark: SparkSession, args: Array[String], r: Int): (Seq[(String, Long, Long)], Double) = {
    val buf = new java.io.ByteArrayOutputStream()
    val (_, s) = nanos {
      Spans("app.ConverterApp.run", r) {
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { ConverterApp.run(args, spark) }
      }
    }
    val tables = buf.toString("UTF-8").linesIterator.collect {
      case ConvertLine(t, recs, _, _, ms) => (t, recs.toLong, ms.toLong)
    }.toSeq
    (tables, s)
  }

  /** Layer values both converter workloads read from the copy reports. */
  def appDetail(tables: Seq[(String, Long, Long)], copyS: Double): Map[String, Double] = Map(
    "app.table_span_max_s" -> (if (tables.isEmpty) 0.0 else tables.map(_._3).max / 1e3),
    "app.table_concurrency" -> tables.map(_._3).sum / 1e3 / copyS)
}

import Workload._

/** `migrate`: the reference's refresh flow — range-delete every
  * destination table, then copy into the emptied tables with
  * `SkipExisting`. */
final class Migrate(spark: SparkSession, seed: Long, sizes: Gen.Sizes) extends Workload {
  private val cfg = ConverterConfig()
  private var k = 0
  private var tables: Seq[GenTable] = Nil
  def srcUrl = s"jdbc:derby:memory:pbsrc$k"
  def dstUrl = s"jdbc:derby:memory:pbdst$k"

  def setup(i: Int): Unit = {
    if (k > 0) { dropDb(srcUrl); dropDb(dstUrl) }
    k = i
    tables = Gen.pkTables(sizes, 42L)
    withDb(srcUrl, create = true) { c =>
      tables.foreach(t => Gen.load(c, t, Gen.permutation(t.rows.length, seed * 31 + t.name.hashCode)))
      val specs = Catalog.introspectAll(c, Dialect.Derby)
      withDb(dstUrl, create = true) { d =>
        val st = d.createStatement()
        specs.foreach { spec =>
          DdlGenerator.script(spec.copy(schema = None), Dialect.Derby, ConvertMode.SkipExisting,
            existsInDestination = false, cfg).fold(e => throw new IllegalStateException(e), identity)
            .foreach(st.executeUpdate)
        }
        st.close()
        tables.foreach(t =>
          Gen.load(d, t, Gen.permutation(t.rows.length, seed * 37 + t.name.hashCode), ddl = false))
      }
    }
  }

  def round(r: Int): RoundResult = {
    var attempted = 0L; var failed = 0L
    var planS = 0.0; var execS = 0.0
    val (_, deleteS) = nanos {
      Spans("delete", r) {
        tables.foreach { t =>
          val ((strategy, n), p) = nanos {
            Spans("delete.plan", r) {
              val n = Gate.rowCount(dstUrl, t.name)
              DeletePlanner.decide(n, cfg) match {
                case DeleteStrategy.Partitioned(_) =>
                  val splits = DeletePlanner.splitPointsOffset(dstUrl, t.name, t.pk,
                    cfg.maxNumberOfWorkers)
                  (DeleteStrategy.Partitioned(DeletePlanner.rangePredicates(t.pk, splits)), n)
                case single => (single, n)
              }
            }
          }
          val (deleted, e) = nanos(Spans("delete.execute", r)(DeletePlanner.execute(dstUrl, t.name, strategy)))
          planS += p; execS += e
          attempted += 1
          if (deleted != n) failed += 1
        }
      }
    }
    // untimed: the delete phase must leave every table empty
    tables.foreach { t =>
      val left = Gate.rowCount(dstUrl, t.name)
      if (left != 0) roundFailures += s"round $r: ${t.name} holds $left rows after the delete phase"
    }
    val (copied, copyS) = convert(spark, Array(srcUrl, dstUrl, "SkipExisting"), r)
    val want = tables.map(t => t.name.toUpperCase -> t.rows.length.toLong).toMap
    attempted += tables.size
    failed += tables.count(t => !copied.exists(c => c._1.equalsIgnoreCase(t.name) && c._2 == want(t.name.toUpperCase)))
    RoundResult(deleteS + copyS, attempted, failed, copied.map(_._2).sum,
      appDetail(copied, copyS) ++ Map("delete.plan_s" -> planS, "delete.exec_s" -> execS))
  }

  def inject(): String = {
    withDb(dstUrl) { c =>
      c.createStatement().executeUpdate("UPDATE orders SET o_totalprice = o_totalprice + 1 WHERE o_orderkey = 0")
    }
    "orders.O_TOTALPRICE:"
  }

  def gate(): Seq[String] = Gate.compareTables(srcUrl, dstUrl, tables.map(_.name))
}

/** `wide`: many small tables of seed-drawn schemas, each round a full
  * `DropAndRecreate` conversion into a fresh in-memory destination. */
final class Wide(spark: SparkSession, seed: Long, nTables: Int, nRows: Int, decimalScale: Int)
    extends Workload {
  private var k = 0
  private var dst = ""
  private var tables: Seq[GenTable] = Nil
  def srcUrl = s"jdbc:derby:memory:pbsrcw$k"

  def setup(i: Int): Unit = {
    if (k > 0) dropDb(srcUrl)
    k = i
    tables = Gen.wideTables(nTables, nRows, seed, decimalScale)
    withDb(srcUrl, create = true) { c =>
      tables.foreach(t => Gen.load(c, t, Gen.permutation(t.rows.length, seed + t.name.hashCode)))
    }
  }

  def round(r: Int): RoundResult = {
    if (dst.nonEmpty) dropDb(dst) // untimed: the previous round's destination
    dst = s"jdbc:derby:memory:pbwdst$r"
    val (copied, s) = convert(spark, Array(srcUrl, dst, "DropAndRecreate", "--yes"), r)
    val failed = tables.count(t => !copied.exists(c => c._1.equalsIgnoreCase(t.name) && c._2 == t.rows.length))
    RoundResult(s, tables.size, failed, copied.map(_._2).sum, appDetail(copied, s))
  }

  def inject(): String = {
    val (t, c) = (for {
      t <- tables.iterator if t.pk == Seq("id")
      c <- t.columns.indices.iterator
      if Set(java.sql.Types.BIGINT, java.sql.Types.INTEGER, java.sql.Types.DOUBLE)(t.columns(c)._3) &&
        !t.pk.contains(t.columns(c)._1) && t.rows.exists(row => row(0) == 0L && row(c) != null)
    } yield (t, c)).next()
    withDb(dst) { conn =>
      val col = t.columns(c)._1
      conn.createStatement().executeUpdate(s"UPDATE ${t.name} SET $col = $col - 1 WHERE id = 0")
    }
    s"${t.name}.${t.columns(c)._1.toUpperCase}:"
  }

  def gate(): Seq[String] = Gate.compareTables(srcUrl, dst, tables.map(_.name))
}

/** `curate`: a fixed slice of the query surface in one session, each
  * query written to the noop sink, in an order the seed and the round
  * number permute, so that no one order sets a run's warm rounds. */
final class Curate(spark: SparkSession, seed: Long, dir: Path, queries: Seq[String],
    expected: Map[String, Gate.QuerySum]) extends Workload {
  val sums = scala.collection.mutable.LinkedHashMap.empty[String, Gate.QuerySum]
  private var corrupt = false

  def setup(i: Int): Unit = Curate.writeFixtures(spark, dir)

  override def afterSetup(): Double =
    nanos(SparkEntry.queries("q14_promo_share")(spark, dir.toString)
      .write.format("noop").mode("overwrite").save())._2

  def round(r: Int): RoundResult = {
    var failed = 0L
    val times = Gen.permutation(queries.size, seed * 1000 + r).map(queries).toSeq.map { q =>
      val (ok, s) = nanos {
        Spans(s"operators.$q", r) {
          try { SparkEntry.queries(q)(spark, dir.toString).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Exception =>
            System.err.println(s"[perfbench] $q failed: ${e.getMessage}"); false }
        }
      }
      if (!ok) failed += 1
      q -> s
    }
    RoundResult(times.map(_._2).sum, queries.size, failed, 0L,
      times.map { case (q, s) => s"query.$q" -> s }.toMap)
  }

  def inject(): String = { corrupt = true; s"${queries.head}:" }

  def gate(): Seq[String] = queries.flatMap { q =>
    val got = Gate.querySum(SparkEntry.queries(q)(spark, dir.toString))
    sums(q) = got
    val want = expected.get(q).map { w =>
      if (corrupt && q == queries.head) w.copy(hash = (if (w.hash.head == '0') "1" else "0") + w.hash.tail)
      else w
    }
    want match {
      case None => Seq(s"$q: no stored row count and hash")
      case Some(w) if w != got => Seq(s"$q: got ${got.rows} rows hash ${got.hash}, stored ${w.rows} rows hash ${w.hash}")
      case _ => Nil
    }
  }
}

object Curate {
  /** The fixture-shaped tables the queries read, at the program's smallest
    * fixture scale (sf0.001 row counts). Fixed content: the stored query
    * results depend on it. */
  val Sizes = Gen.Sizes(customer = 150, supplier = 10, part = 200, orders = 1500,
    lineitem = 6000, events = 1000, documents = 500)
  /** The tables the curate queries and the warm-up query read. */
  val Tables: Seq[String] = Seq("nation", "customer", "part", "orders", "documents", "lineitem")

  private def sparkType(jdbc: Int): DataType = jdbc match {
    case java.sql.Types.BIGINT => LongType
    case java.sql.Types.INTEGER => IntegerType
    case java.sql.Types.DOUBLE => DoubleType
    case java.sql.Types.TIMESTAMP => TimestampType
    case _ => StringType
  }

  def writeFixtures(spark: SparkSession, dir: Path): Unit = {
    Files.createDirectories(dir)
    val s = Sizes
    val pk = Gen.pkTables(s, 42L).filter(t => Tables.contains(t.name))
    (pk :+ Gen.lineitem(s.lineitem, s.orders, s.part, s.supplier, 49L)).foreach { t =>
      val schema = StructType(t.columns.map { case (c, _, j) => StructField(c, sparkType(j)) })
      spark.createDataFrame(java.util.Arrays.asList(t.rows.toSeq.map(r => Row.fromSeq(r.toSeq)): _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(dir.resolve(s"${t.name}.parquet").toString)
    }
  }
}
