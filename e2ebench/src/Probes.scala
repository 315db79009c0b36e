package e2ebench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.sql.{Connection, DriverManager, PreparedStatement}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.types.StructType

import graft.sources.{InMemorySchemaRegistry, SchemaRegistry}

/** Counts and times the sink from outside the program: the benchmark
  * hands the pipeline a `connect` factory whose connections are
  * recording proxies over embedded Derby. Everything lives in this JVM
  * (local mode), so executor-side calls land in the same counters.
  *
  * A connection that never prepares a statement is the sink's
  * driver-side DDL connection (`ensureTable`); its lifetime is
  * `sink.ddl_ms`. `executeBatch` plus the following `commit` is one
  * flush. Committed rows are kept, with their commit time, when
  * `record` is on: the live phase matches them to the changes they
  * carry. */
object SinkProbe {
  /** A committed sink statement: MERGE (with the SEQ it wrote) or DELETE. */
  case class Committed(atNanos: Long, key: Int, seq: Option[Long])

  val connections = new AtomicLong
  val flushes = new AtomicLong
  val commits = new AtomicLong
  val rollbacks = new AtomicLong
  val rows = new AtomicLong
  val flushNanos = new AtomicLong
  val ddlNanos = new AtomicLong
  val lastCommitNanos = new AtomicLong
  @volatile var record = false
  val committed = new ConcurrentLinkedQueue[Committed]()

  def snapshot(): Map[String, Long] = Map(
    "connections" -> connections.get, "flushes" -> flushes.get, "commits" -> commits.get,
    "rollbacks" -> rollbacks.get, "rows" -> rows.get, "flush_nanos" -> flushNanos.get,
    "ddl_nanos" -> ddlNanos.get)

  /** The serializable factory passed to the pipeline. */
  def factory(url: String): () => Connection = () => wrap(DriverManager.getConnection(url))

  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
    try m.invoke(target, (if (args == null) Array.empty[AnyRef] else args): _*)
    catch {
      case e: InvocationTargetException =>
        if (errors.incrementAndGet() <= 3)
          System.err.println(s"[e2ebench] sink call ${m.getName} failed: ${e.getCause}")
        throw e.getCause
    }
  private val errors = new AtomicInteger

  def wrap(conn: Connection): Connection = {
    connections.incrementAndGet()
    val opened = System.nanoTime()
    var prepared = false
    val pending = scala.collection.mutable.ArrayBuffer[(Int, Option[Long])]()
    var flushStarted = 0L
    val handler: InvocationHandler = (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "prepareStatement" =>
          prepared = true
          val sql = args(0).asInstanceOf[String]
          statement(call(conn, m, args).asInstanceOf[PreparedStatement], sql,
            (key, seq) => pending.synchronized(pending += ((key, seq))),
            () => if (flushStarted == 0L) flushStarted = System.nanoTime())
        case "commit" =>
          val out = call(conn, m, args)
          val now = System.nanoTime()
          commits.incrementAndGet()
          if (flushStarted != 0L) {
            flushNanos.addAndGet(now - flushStarted)
            flushStarted = 0L
          }
          pending.synchronized {
            if (pending.nonEmpty) {
              rows.addAndGet(pending.size)
              lastCommitNanos.accumulateAndGet(now, math.max)
              if (record) pending.foreach { case (k, s) => committed.add(Committed(now, k, s)) }
              pending.clear()
            }
          }
          out
        case "rollback" =>
          pending.synchronized(pending.clear())
          flushStarted = 0L
          rollbacks.incrementAndGet()
          call(conn, m, args)
        case "close" =>
          if (!prepared) ddlNanos.addAndGet(System.nanoTime() - opened)
          call(conn, m, args)
        case _ => call(conn, m, args)
      }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[Connection]), handler)
      .asInstanceOf[Connection]
  }

  /** The sink prepares one MERGE and one DELETE per partition. The key
    * is the first parameter of both; the MERGE's INSERT column list
    * names the SEQ parameter (the INSERT values are its last params). */
  private def statement(ps: PreparedStatement, sql: String,
      onRow: (Int, Option[Long]) => Unit, onExecute: () => Unit): PreparedStatement = {
    val isMerge = sql.startsWith("MERGE")
    val seqParam: Int =
      if (!isMerge) -1
      else {
        val cols = """INSERT \((.*?)\) VALUES""".r.findFirstMatchIn(sql).map(_.group(1)
          .split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSeq).getOrElse(Nil)
        val total = sql.count(_ == '?')
        val i = cols.indexOf("SEQ")
        if (i < 0) -1 else total - cols.size + i + 1
      }
    val params = new java.util.HashMap[Int, AnyRef]()
    val handler: InvocationHandler = (_: AnyRef, m: Method, args: Array[AnyRef]) =>
      m.getName match {
        case "setObject" =>
          params.put(args(0).asInstanceOf[Int], args(1))
          call(ps, m, args)
        case "addBatch" =>
          val key = params.get(1) match { case n: Number => n.intValue; case _ => -1 }
          val seq = Option(params.get(seqParam)).collect { case n: Number => n.longValue }
          onRow(key, seq)
          params.clear()
          call(ps, m, args)
        case "clearBatch" =>
          params.clear()
          call(ps, m, args)
        case "executeBatch" =>
          onExecute()
          flushes.incrementAndGet()
          call(ps, m, args)
        case _ => call(ps, m, args)
      }
    Proxy.newProxyInstance(getClass.getClassLoader, Array(classOf[PreparedStatement]), handler)
      .asInstanceOf[PreparedStatement]
  }
}

/** The registry the benchmark hands the program: every call the
  * program makes is counted (registration by the benchmark's producer
  * goes to `inner` directly). The count must grow per plan, never per
  * record. */
final class CountingRegistry(val inner: InMemorySchemaRegistry) extends SchemaRegistry {
  val calls = new AtomicInteger
  def register(subject: String, schema: StructType): Int = {
    calls.incrementAndGet(); inner.register(subject, schema)
  }
  def schemaById(id: Int): Option[StructType] = { calls.incrementAndGet(); inner.schemaById(id) }
  def subjectHistory(subject: String): Seq[(Int, StructType)] = {
    calls.incrementAndGet(); inner.subjectHistory(subject)
  }
}

/** In-memory spans: name, start, end, parent, request id. Spans open
  * only while `enabled` (the traced run); the untraced run pays one
  * volatile read per call site. */
object Trace {
  case class Span(id: Int, name: String, parent: Int, request: Long, start: Long, end: Long)
  @volatile var enabled = false
  private val ids = new AtomicInteger
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[(Int, Long)]] {
    override def initialValue(): List[(Int, Long)] = Nil
  }

  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val parent = outer.headOption.map(_._1).getOrElse(0)
      val req = if (request >= 0) request else outer.headOption.map(_._2).getOrElse(id.toLong)
      stack.set((id, req) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, name, parent, req, t0, System.nanoTime()))
        stack.set(outer)
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span name: duration minus the union of its
    * children's intervals, summed over spans of that name, with the
    * span count. */
  def selfTimes(): Seq[(String, Int, Double, Double)] = {
    val byParent = all.groupBy(_.parent)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(s => s.end - s.start).sum
      val self = ss.map { s =>
        val kids = byParent.getOrElse(s.id, Nil).map(k => (k.start max s.start, k.end min s.end))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var upTo = Long.MinValue
        kids.foreach { case (a, b) =>
          val from = a max upTo
          if (b > from) { covered += b - from; upTo = b }
        }
        (s.end - s.start) - covered
      }.sum
      (name, ss.size, total / 1e6, self / 1e6)
    }.sortBy(-_._4)
  }
}
