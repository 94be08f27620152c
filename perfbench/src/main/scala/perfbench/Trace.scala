package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DatabaseMetaData, Driver, DriverManager, PreparedStatement, ResultSet, Statement}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Named counters shared by every traced layer boundary. Keys are
  * `<role>.<kind>.<n|ns|rows>` for JDBC work and free-form otherwise. */
object Counters {
  private val m = new ConcurrentHashMap[String, LongAdder]()
  def add(key: String, v: Long): Unit = m.computeIfAbsent(key, _ => new LongAdder).add(v)
  def get(key: String): Long = Option(m.get(key)).map(_.sum).getOrElse(0L)
  def reset(): Unit = m.clear()
}

/** In-memory spans around the benchmark's own calls into each layer,
  * written out once when the run ends. Recording is off unless the run
  * is traced. */
object Spans {
  final case class Span(id: Long, parent: Long, round: Int, name: String, startNs: Long, endNs: Long)
  @volatile var recording = false
  private val ids = new AtomicLong(0)
  private val done = ArrayBuffer.empty[Span]
  private val current = new ThreadLocal[java.lang.Long] { override def initialValue() = 0L }

  def apply[T](name: String, round: Int)(body: => T): T =
    if (!recording) body
    else {
      val id = ids.incrementAndGet(); val parent = current.get
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set(parent)
        done.synchronized { done += Span(id, parent, round, name, t0, t1) }
      }
    }

  def all: Seq[Span] = done.synchronized(done.toList)

  def write(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"round":${s.round},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

/** A JDBC driver registered in front of Derby's that hands out proxied
  * connections while tracing is enabled. It classifies each statement as
  * metadata, DDL, COUNT/OFFSET probe, partition fetch, INSERT batch,
  * commit or DELETE, and records count and time per (database role,
  * kind). The role is `src` for URLs naming the source database and
  * `dst` otherwise. With tracing disabled it returns Derby's own
  * connections untouched. */
class CountingDriver extends Driver {
  import CountingDriver._
  def connect(url: String, info: java.util.Properties): Connection = {
    val c = delegate.connect(url, info)
    if (c == null || !enabled) c
    else wrapConnection(c, if (url.contains(SourceMarker)) "src" else "dst")
  }
  def acceptsURL(url: String): Boolean = delegate.acceptsURL(url)
  def getPropertyInfo(url: String, info: java.util.Properties) = delegate.getPropertyInfo(url, info)
  def getMajorVersion: Int = delegate.getMajorVersion
  def getMinorVersion: Int = delegate.getMinorVersion
  def jdbcCompliant(): Boolean = delegate.jdbcCompliant()
  def getParentLogger = delegate.getParentLogger
}

object CountingDriver {
  @volatile private[perfbench] var delegate: Driver = _
  @volatile var enabled = false
  /** Every source database URL the workloads open contains this. */
  val SourceMarker = "pbsrc"

  /** Put the counting driver first in DriverManager's list for Derby URLs. */
  def install(): Unit = if (delegate == null) {
    delegate = DriverManager.getDriver("jdbc:derby:memory:perfbench")
    DriverManager.deregisterDriver(delegate)
    DriverManager.registerDriver(new CountingDriver)
  }

  private def timed[T](key: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally { Counters.add(s"$key.ns", System.nanoTime() - t0); Counters.add(s"$key.n", 1) }
  }

  private def invoke(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch { case e: InvocationTargetException => throw e.getCause }

  private def proxy[T](cls: Class[T], h: InvocationHandler): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](cls), h).asInstanceOf[T]

  def classify(sql: String): String = {
    val s = sql.trim.toUpperCase
    if (s.startsWith("CREATE") || s.startsWith("DROP") || s.startsWith("ALTER")) "ddl"
    else if (s.startsWith("INSERT")) "insert"
    else if (s.startsWith("DELETE")) "delete"
    else if (s.startsWith("SELECT COUNT(*)") || (s.contains(" OFFSET ") && s.contains(" FETCH "))) "probe"
    else if (s.contains("WHERE 1=0")) "schema" // Spark's JDBC schema lookup
    else if (s.startsWith("SELECT")) "fetch"
    else "other"
  }

  private final class ConnState(val role: String) {
    @volatile var inserts = false
    @volatile var deletes = false
  }

  private def wrapConnection(c: Connection, role: String): Connection = {
    val st = new ConnState(role)
    proxy(classOf[Connection], (_, m, args) => m.getName match {
      case "createStatement" => wrapStatement(invoke(c, m, args).asInstanceOf[Statement], None, st)
      case "prepareStatement" =>
        val sql = args(0).asInstanceOf[String]
        if (classify(sql) == "insert" && !st.inserts) {
          st.inserts = true; Counters.add(s"$role.insert_conn.n", 1)
        }
        wrapStatement(invoke(c, m, args).asInstanceOf[PreparedStatement], Some(sql), st)
      case "commit" =>
        val kind = if (st.inserts) "insert_commit" else if (st.deletes) "delete_commit" else "commit"
        timed(s"$role.$kind")(invoke(c, m, args))
      case "getMetaData" => wrapMetaData(invoke(c, m, args).asInstanceOf[DatabaseMetaData], role)
      case _ => invoke(c, m, args)
    })
  }

  private def wrapMetaData(md: DatabaseMetaData, role: String): DatabaseMetaData =
    proxy(classOf[DatabaseMetaData], (_, m, args) =>
      if (m.getReturnType == classOf[ResultSet]) timed(s"$role.meta")(invoke(md, m, args))
      else invoke(md, m, args))

  private def wrapStatement[S <: Statement](s: S, prepared: Option[String], st: ConnState): S = {
    val cls: Class[_ <: Statement] =
      if (prepared.isDefined) classOf[PreparedStatement] else classOf[Statement]
    proxy(cls, (_, m, args) => m.getName match {
      case name if name.startsWith("execute") =>
        val sql = prepared.getOrElse(Option(args).flatMap(_.headOption).map(_.toString).getOrElse(""))
        val kind0 = classify(sql)
        val kind = if (kind0 == "insert" && name == "executeBatch") "insert_batch" else kind0
        if (kind0 == "delete") st.deletes = true
        val key = s"${st.role}.$kind"
        val out = timed(key)(invoke(s, m, args))
        out match {
          case n: java.lang.Integer if kind0 == "delete" => Counters.add(s"$key.rows", n.longValue); n
          case rs: ResultSet if kind == "fetch" => wrapResultSet(rs, key)
          case other => other
        }
      case _ => invoke(s, m, args)
    }).asInstanceOf[S]
  }

  /** Partition fetches pay most of their time in `next()`; time it there. */
  private def wrapResultSet(rs: ResultSet, key: String): ResultSet =
    proxy(classOf[ResultSet], (_, m, args) =>
      if (m.getName == "next") {
        val t0 = System.nanoTime()
        try invoke(rs, m, args) finally Counters.add(s"$key.ns", System.nanoTime() - t0)
      } else invoke(rs, m, args))
}

/** Task, stage and job totals attributed to a layer by the stage's call
  * site: stages created from `DataCopier.scala` belong to `copy`, all
  * others to `operators`. */
class LayerListener extends SparkListener {
  private val stageLayer = new ConcurrentHashMap[Int, String]()
  private val taskMaxMs = new ConcurrentHashMap[String, java.lang.Long]()

  private def layerOf(info: StageInfo): String =
    if (info.name.contains("DataCopier.scala") || info.details.contains("DataCopier.scala")) "copy"
    else "operators"

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = e.stageInfos.headOption.map(layerOf).getOrElse("operators")
    Counters.add(s"$layer.jobs", 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    val layer = layerOf(e.stageInfo)
    stageLayer.put(e.stageInfo.stageId, layer)
    Counters.add(s"$layer.stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.getOrDefault(e.stageId, "operators")
    val m = e.taskMetrics
    Counters.add(s"$layer.tasks", 1)
    if (m != null) {
      Counters.add(s"$layer.task_ms", m.executorRunTime)
      Counters.add(s"$layer.task_cpu_ns", m.executorCpuTime)
      Counters.add(s"$layer.shuffle_bytes",
        m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      Counters.add(s"$layer.spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
      Counters.add(s"$layer.gc_ms", m.jvmGCTime)
      taskMaxMs.merge(layer, m.executorRunTime, (a, b) => math.max(a, b))
    }
  }

  def takeTaskMaxMs(layer: String): Long = Option(taskMaxMs.remove(layer)).map(_.longValue).getOrElse(0L)
}

/** Analysis + optimization + planning time of every executed query. */
class PlanListener extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val ms = qe.tracker.phases.values.map(_.durationMs).sum
    Counters.add("operators.plan_ms", ms)
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
