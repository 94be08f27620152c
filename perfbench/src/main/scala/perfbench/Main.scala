package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.SparkSession
import graft.GraftSession

/** Benchmark main. One process, one closed-loop client: set up, run one
  * cold round, then warm rounds back to back until `--seconds` have been
  * measured, check the outputs, print the result JSON as the last line. */
object Main {

  /** The queries `curate` runs, each to the noop sink. */
  val CurateQueries: Seq[String] = Seq(
    "graph_sssp_fixpoint", "mm_phash_png", "win_topk_heap", "etl_table_checksum")

  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "cold_s" -> "s", "warm_s" -> "s", "rows_per_s" -> "rows/s",
    "heap_after_gc_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "app.table_span_max_s" -> "s", "app.table_concurrency" -> "ratio",
    "catalog.introspect_s" -> "s", "catalog.metadata_calls" -> "count",
    "ddl.statements" -> "count", "ddl.exec_s" -> "s",
    "sources.probe_queries" -> "count", "sources.probe_s" -> "s",
    "sources.read_partitions" -> "count", "sources.fetch_s" -> "s",
    "copy.rows_per_commit" -> "count", "copy.commits" -> "count", "copy.batches" -> "count",
    "copy.connections" -> "count", "copy.insert_s" -> "s", "copy.commit_s" -> "s",
    "copy.tasks" -> "count", "copy.task_s" -> "s", "copy.task_cpu_s" -> "s", "copy.task_max_s" -> "s",
    "delete.plan_s" -> "s", "delete.exec_s" -> "s", "delete.statements" -> "count",
    "delete.rows" -> "count") ++
    CurateQueries.flatMap(q => Seq(s"operators.$q.cold_s" -> "s", s"operators.$q.warm_s" -> "s")) ++
    Seq("operators.plan_s" -> "s", "operators.jobs" -> "count", "operators.stages" -> "count",
      "operators.tasks" -> "count", "operators.cpu_over_wall" -> "ratio",
      "operators.shuffle_mb" -> "MB", "operators.spill_mb" -> "MB", "operators.gc_s" -> "s",
      "operators.retained_blocks" -> "count",
      "functions.minhash_ns_per_row" -> "ns", "functions.md5_prefix_ns_per_row" -> "ns",
      "operators.jpeg_decode_ms_per_image" -> "ms", "operators.png_decode_ms_per_image" -> "ms",
      "trace.overhead_s" -> "s")

  /** Warm rounds per run, at least. The JIT keeps speeding rounds up for
    * many rounds, so a run that stopped on time alone would take more
    * rounds when the host is fast and land `warm_s` further along that
    * trend; a fixed count that outlasts `--seconds` keeps the median on
    * the same round. */
  val MinWarm: Map[String, Int] = Map("migrate" -> 8, "wide" -> 8, "curate" -> 5)

  /** Fixture builds per run; `setup_s` takes their median. Only the first
    * precedes the rounds, so the cold round follows a single build. */
  val SetupRepeats = 3

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean, tiny: Boolean,
      work: Path, inject: Option[String], writeExpected: Option[Path], dumpDir: Option[Path])

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt, need("trace") == "1",
      m.get("scale").contains("tiny"), Paths.get(need("work")), m.get("inject"),
      m.get("write-expected").map(Paths.get(_)), m.get("dump-dir").map(Paths.get(_)))
  }

  def median(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted; val n = s.size
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  private def loadavg(): String =
    try Files.readString(Paths.get("/proc/loadavg")).trim catch { case _: Exception => "unknown" }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val code = try run(o) catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] run aborted: $e")
        e.printStackTrace()
        2
    }
    System.exit(code)
  }

  def run(o: Opts): Int = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val loadStart = loadavg()
    val cores = Runtime.getRuntime.availableProcessors
    Files.createDirectories(o.work)
    val spark = GraftSession.configure(SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val expectedFile = Paths.get("perfbench", "expected", "curate.json")
    val queries = CurateQueries
    val w: Workload = o.workload match {
      case "migrate" => new Migrate(spark, o.seed,
        if (o.tiny) Gen.Sizes(150, 10, 200, 1500, 0, 1000, 100)
        else Gen.Sizes(800, 50, 1000, 10000, 0, 10000, 300))
      // the self-test's tiny wide draws DECIMAL(12,2) columns, which the
      // converter's Derby DDL truncates to scale 0 (README: known defect)
      case "wide" =>
        if (o.tiny) new Wide(spark, o.seed, 6, 50, decimalScale = 2)
        else new Wide(spark, o.seed, 16, 200, decimalScale = 0)
      case "curate" => new Curate(spark, o.seed, o.work.resolve("curate-data"), queries,
        if (o.writeExpected.isDefined) Map.empty else Expected.read(expectedFile))
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    val setupS = ArrayBuffer(Workload.nanos(w.setup(1))._2)
    val afterS = w.afterSetup()

    // --- rounds: one cold, then warm rounds until they have taken --seconds
    val tracer = if (o.trace) Some(new Tracer(spark, planTimes = o.workload == "curate")) else None
    val minWarm = MinWarm(o.workload) + (if (o.trace) MinWarm(o.workload) % 2 else 0)
    val rounds = ArrayBuffer.empty[(RoundResult, Boolean)]
    val layer = ArrayBuffer.empty[Map[String, Double]]
    var coldLayer = Map.empty[String, Double]
    val t0 = System.nanoTime()
    var warmT0 = 0L
    def elapsed = (System.nanoTime() - t0) / 1e9
    def warmElapsed = (System.nanoTime() - warmT0) / 1e9
    var r = 0
    // traced runs trace the cold round, then run the warm rounds in pairs
    // of one traced and one untraced round, traced first in every other
    // pair, so that JIT warm-up favours neither side; a traced run ends on
    // a whole pair
    def pairOpen = tracer.isDefined && rounds.size % 2 == 0
    while (r == 0 || pairOpen || ((rounds.size - 1 < minWarm || warmElapsed < o.seconds) && elapsed < 120)) {
      val traced = tracer.isDefined && (r == 0 || ((r - 1) % 2 == 0) == ((r - 1) / 2 % 2 == 0))
      tracer.foreach(_.enable(traced))
      val res = w.round(r)
      tracer.foreach { t =>
        if (traced) {
          val vals = t.collect(res, cores)
          if (r == 0) coldLayer = vals else layer += vals
        }
      }
      rounds += ((res, traced))
      if (r == 0) warmT0 = System.nanoTime()
      r += 1
    }
    tracer.foreach(_.enable(false))
    val retainedBlocks = spark.sparkContext.getRDDStorageInfo.map(_.numCachedPartitions).sum
    val heapMb = Heap.liveMb()

    // --- correctness gate
    o.inject.foreach(_ => System.err.println(s"[perfbench] injected fault: ${w.inject()}"))
    val failures = w.roundFailures.toSeq ++ w.gate()
    failures.foreach(f => System.err.println(s"[perfbench] MISMATCH $f"))
    w match {
      case c: Curate =>
        o.writeExpected.foreach(p => Expected.write(p, c.sums.toSeq))
        o.dumpDir.foreach(d => Expected.dump(spark, d, queries, o.work.resolve("curate-data")))
      case _ =>
    }
    // the remaining fixture builds, now that the outputs are checked
    (2 to SetupRepeats).foreach(i => setupS += Workload.nanos(w.setup(i))._2)
    val setupTotal = sessionS + median(setupS) + afterS

    val cold = rounds.head._1
    val warm = rounds.tail.map(_._1)
    val warmS = median(warm.map(_.seconds))
    val rowsPerRound = w match {
      case c: Curate => c.sums.values.map(_.rows).sum
      case _ => median(warm.map(_.rows.toDouble)).toLong
    }
    val attempted = rounds.map(_._1.attempted).sum
    val failed = rounds.map(_._1.failed).sum
    val correct = failures.isEmpty && failed == 0

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) {
        val all = Map("setup_s" -> setupTotal, "cold_s" -> cold.seconds, "warm_s" -> warmS,
          "rows_per_s" -> rowsPerRound / warmS, "heap_after_gc_mb" -> heapMb)
        EndToEnd.map { case (n, u) => (n, u, all(n)) }
      } else {
        val traceOverhead = median(rounds.tail.toSeq.grouped(2).collect {
          case Seq((a, aTraced), (b, _)) => if (aTraced) a.seconds - b.seconds else b.seconds - a.seconds
        }.toSeq)
        val perQuery = w match {
          case _: Curate => queries.flatMap { q =>
            Seq(s"operators.$q.cold_s" -> cold.detail(s"query.$q"),
              s"operators.$q.warm_s" -> median(warm.map(_.detail(s"query.$q"))))
          }.toMap
          case _ => Map.empty[String, Double]
        }
        val kernels = w match {
          case _: Curate => Kernels.measure(o.seed)
          case _ => Map.empty[String, Double]
        }
        val medians = layer.flatMap(_.keys).distinct.map(k => k -> median(layer.map(_.getOrElse(k, 0.0)))).toMap
        val all = medians ++ perQuery ++ kernels ++ Map(
          "operators.plan_s" -> coldLayer.getOrElse("operators.plan_s", 0.0),
          "operators.retained_blocks" -> retainedBlocks.toDouble,
          "trace.overhead_s" -> traceOverhead)
        // a layer the workload does not exercise reads 0 (README)
        PerLayer.map { case (n, u) => (n, u, all.getOrElse(n, 0.0)) }
      }

    // --- artifacts: window metadata, spans, the full run record
    val tag = s"${o.workload}-seed${o.seed}-trace${if (o.trace) 1 else 0}"
    val meta = graft.RunMeta.json(spark, s"generated:${o.workload}")
    Files.writeString(o.work.resolve("RunMeta.json"),
      s"""{"_meta":$meta,"nproc":$cores,"loadavg_start":${Json.str(loadStart)},""" +
        s""""loadavg_end":${Json.str(loadavg())},"jvm_max_heap_mb":${Runtime.getRuntime.maxMemory / 1048576},""" +
        s""""seed":${o.seed},"workload":${Json.str(o.workload)},"trace":${o.trace}}""")
    if (o.trace) Spans.write(o.work.resolve(s"spans-$tag.jsonl"))
    Files.writeString(o.work.resolve(s"run-$tag.json"),
      s"""{"workload":${Json.str(o.workload)},"seed":${o.seed},"setup_build_s":${setupS.map(Json.num).mkString("[", ",", "]")},""" +
        s""""session_s":${Json.num(sessionS)},"after_setup_s":${Json.num(afterS)},""" +
        s""""round_s":${rounds.map(x => Json.num(x._1.seconds)).mkString("[", ",", "]")},""" +
        s""""round_traced":${rounds.map(_._2).mkString("[", ",", "]")},"warm_samples":${warm.size},""" +
        s""""round_detail":${rounds.map(_._1.detail.toSeq.sortBy(_._1).map { case (k, v) => s"${Json.str(k)}:${Json.num(v)}" }.mkString("{", ",", "}")).mkString("[", ",", "]")},""" +
        s""""error_rate":${Json.num(if (attempted == 0) 0 else failed.toDouble / attempted)},""" +
        s""""mismatches":${failures.map(Json.str).mkString("[", ",", "]")},""" +
        s""""loadavg_start":${Json.str(loadStart)},"loadavg_end":${Json.str(loadavg())}}""")
    System.err.println(s"[perfbench] $tag: setup ${setupTotal} s, cold ${cold.seconds} s, " +
      s"warm ${warmS} s over ${warm.size} rounds, load ${loadStart} -> ${loadavg()}")

    spark.stop()
    println(s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,"metrics":""" +
      metrics.map { case (n, u, v) => s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }
        .mkString("{", ",", "}") + "}")
    if (correct) 0 else 1
  }
}

/** Live heap after full collections, once Spark's ContextCleaner has had
  * the chance to release what the collections made unreachable. */
object Heap {
  def liveMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(150) }
    System.gc()
    (rt.totalMemory - rt.freeMemory) / 1048576.0
  }
}

/** Attaches and detaches the traced-run instruments between rounds.
  * Planning time is only collected where the queries are the operators
  * under test (`curate`); the converter's own reads are attributed to the
  * copy layer by their stages instead. */
final class Tracer(spark: SparkSession, planTimes: Boolean) {
  CountingDriver.install()
  private val layers = new LayerListener
  private val plans = new PlanListener
  private var on = false
  private var roundStart = 0L

  def enable(traced: Boolean): Unit = {
    if (traced && !on) {
      spark.sparkContext.addSparkListener(layers)
      if (planTimes) spark.listenerManager.register(plans)
    }
    if (!traced && on) {
      spark.sparkContext.removeSparkListener(layers)
      if (planTimes) spark.listenerManager.unregister(plans)
    }
    on = traced
    CountingDriver.enabled = traced
    Spans.recording = traced
    Counters.reset()
    roundStart = System.nanoTime()
  }

  /** Layer values of the round just finished. */
  def collect(res: RoundResult, cores: Int): Map[String, Double] = {
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    def c(k: String) = Counters.get(k).toDouble
    def s(k: String) = Counters.get(k) / 1e9
    val commits = c("dst.insert_commit.n")
    Map(
      "catalog.introspect_s" -> (s("src.meta.ns") + s("dst.meta.ns")),
      "catalog.metadata_calls" -> (c("src.meta.n") + c("dst.meta.n")),
      "ddl.statements" -> c("dst.ddl.n"), "ddl.exec_s" -> s("dst.ddl.ns"),
      "sources.probe_queries" -> c("src.probe.n"), "sources.probe_s" -> s("src.probe.ns"),
      "sources.read_partitions" -> c("src.fetch.n"), "sources.fetch_s" -> s("src.fetch.ns"),
      "copy.rows_per_commit" -> (if (commits > 0) res.rows / commits else 0.0),
      "copy.commits" -> commits, "copy.batches" -> c("dst.insert_batch.n"),
      "copy.connections" -> c("dst.insert_conn.n"),
      "copy.insert_s" -> (s("dst.insert_batch.ns") + s("dst.insert.ns")),
      "copy.commit_s" -> s("dst.insert_commit.ns"),
      "copy.tasks" -> c("copy.tasks"), "copy.task_s" -> c("copy.task_ms") / 1e3,
      "copy.task_cpu_s" -> c("copy.task_cpu_ns") / 1e9,
      "copy.task_max_s" -> layers.takeTaskMaxMs("copy") / 1e3,
      "delete.statements" -> c("dst.delete.n"), "delete.rows" -> c("dst.delete.rows"),
      "operators.plan_s" -> c("operators.plan_ms") / 1e3,
      "operators.jobs" -> c("operators.jobs"), "operators.stages" -> c("operators.stages"),
      "operators.tasks" -> c("operators.tasks"),
      "operators.cpu_over_wall" -> c("operators.task_cpu_ns") / 1e9 / (res.seconds * cores),
      "operators.shuffle_mb" -> c("operators.shuffle_bytes") / 1048576,
      "operators.spill_mb" -> c("operators.spill_bytes") / 1048576,
      "operators.gc_s" -> c("operators.gc_ms") / 1e3) ++ res.detail
  }
}
