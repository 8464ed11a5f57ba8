package perfbench

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method,
  Proxy}
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo,
  Statement}
import java.util.Properties
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import java.util.logging.Logger
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

/** One timed call into a layer. `parent` is -1 for a root span; `op`
  * names the operation (pass, query, epoch) the span belongs to. */
final case class Span(id: Long, name: String, parent: Long, op: String,
    startNs: Long, endNs: Long)

/** Spans recorded from outside the engine, around each public call the
  * benchmark makes. They stay in memory until the run writes them out.
  * When `enabled` is false, `span` only runs its body. While a span is
  * open on the driver thread, Spark jobs started from that thread carry
  * its id as their job group, so [[JobCounters]] can attribute them. */
final class Tracer(val enabled: Boolean, sc: () => SparkContext) {
  private val ids = new AtomicLong(0)
  private val done = ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Long, String)]] {
    override def initialValue(): List[(Long, String)] = Nil
  }

  def span[T](name: String, op: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(-1L)
      stack.set((id, name) :: outer)
      val ctx = sc()
      ctx.setJobGroup(s"$id", name, interruptOnCancel = false)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        done.synchronized(done += Span(id, name, parent, op, t0, t1))
        stack.set(outer)
        outer.headOption match {
          case Some((pid, pname)) =>
            ctx.setJobGroup(s"$pid", pname, interruptOnCancel = false)
          case None => ctx.clearJobGroup()
        }
      }
    }

  /** Runs `body` with no job group, so the benchmark's own bookkeeping
    * jobs are counted for no layer; the enclosing span's group is restored
    * after it. */
  def outside[T](body: => T): T =
    if (!enabled) body
    else {
      val ctx = sc()
      ctx.clearJobGroup()
      try body
      finally stack.get().headOption.foreach { case (id, name) =>
        ctx.setJobGroup(s"$id", name, interruptOnCancel = false)
      }
    }

  /** A span whose times were measured elsewhere (streaming epochs). */
  def record(name: String, parent: Long, op: String, t0: Long,
      t1: Long): Long = {
    val id = ids.incrementAndGet()
    done.synchronized(done += Span(id, name, parent, op, t0, t1))
    id
  }

  def spans: Seq[Span] = done.synchronized(done.toList)
}

/** Task metrics summed per job group (one group per span). */
final class Counts {
  val jobs, stages, tasks, cpuNs, runMs, gcMs, shuffleWrite, spill,
    inputBytes = new LongAdder
}

/** Spark listener that counts jobs, stages, tasks and their metrics per
  * job group. The listener bus is asynchronous: drain it with
  * [[org.apache.spark.perfbenchbridge.Bus.drain]] before reading. */
final class JobCounters extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def counts(g: String): Counts =
    byGroup.computeIfAbsent(g, _ => new Counts)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val g = Option(j.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val c = counts(g)
    c.jobs.increment()
    j.stageIds.foreach { s => stageGroup.put(s, g); c.stages.increment() }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val c = counts(stageGroup.getOrDefault(t.stageId, ""))
    c.tasks.increment()
    val m = t.taskMetrics
    if (m != null) {
      c.cpuNs.add(m.executorCpuTime)
      c.runMs.add(m.executorRunTime)
      c.gcMs.add(m.jvmGCTime)
      c.shuffleWrite.add(m.shuffleWriteMetrics.bytesWritten)
      c.spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      c.inputBytes.add(m.inputMetrics.bytesRead)
    }
  }

  def total(groups: String => Boolean): Map[String, Long] = {
    val sel = byGroup.asScala.filter { case (g, _) => groups(g) }.values
    def sum(f: Counts => LongAdder) = sel.map(f(_).sum()).sum
    Map("jobs" -> sum(_.jobs), "stages" -> sum(_.stages),
      "tasks" -> sum(_.tasks), "cpu_ns" -> sum(_.cpuNs),
      "run_ms" -> sum(_.runMs), "gc_ms" -> sum(_.gcMs),
      "shuffle_write" -> sum(_.shuffleWrite), "spill" -> sum(_.spill),
      "input_bytes" -> sum(_.inputBytes))
  }

  def reset(): Unit = { byGroup.clear(); stageGroup.clear() }
}

/** JDBC driver for `jdbc:perfbench:<url>` that hands out connections of
  * the driver for `jdbc:<url>`, wrapped so that every statement
  * execution, commit and rollback is counted and timed. Executors in
  * local mode share the JVM, so the counters are plain statics. */
object CountingJdbc {
  val Prefix = "jdbc:perfbench:"
  val statements, commits, rollbacks, busyNs, overheadNs = new LongAdder

  /** busy_ns: time inside the wrapped driver's statement, commit and
    * rollback calls; overhead_ns: time the wrapper itself adds. */
  def snapshot(): Map[String, Long] = Map(
    "statements" -> statements.sum(), "commits" -> commits.sum(),
    "rollbacks" -> rollbacks.sum(), "busy_ns" -> busyNs.sum(),
    "overhead_ns" -> overheadNs.sum())

  private val timed = Set("execute", "executeUpdate", "executeQuery",
    "executeBatch", "executeLargeUpdate", "executeLargeBatch", "commit",
    "rollback")
  private val inner = new ThreadLocal[Long] {
    override def initialValue(): Long = 0L
  }

  /** Calls the wrapped object, counting the time as the driver's own. */
  private def call(target: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
    val t0 = System.nanoTime()
    try m.invoke(target, args: _*)
    finally {
      val d = System.nanoTime() - t0
      inner.set(inner.get + d)
      if (timed(m.getName)) {
        busyNs.add(d)
        m.getName match {
          case "commit" => commits.increment()
          case "rollback" => rollbacks.increment()
          case _ => statements.increment()
        }
      }
    }
  }

  private def proxy[T](iface: Class[T], target: AnyRef,
      wrap: (Method, AnyRef) => AnyRef): T =
    Proxy.newProxyInstance(getClass.getClassLoader, Array(iface),
      new InvocationHandler {
        def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef = {
          val before = inner.get
          val t0 = System.nanoTime()
          try wrap(m, call(target, m,
            if (args == null) Array.empty[AnyRef] else args))
          catch { case e: InvocationTargetException => throw e.getCause }
          finally overheadNs.add(System.nanoTime() - t0 - (inner.get - before))
        }
      }).asInstanceOf[T]

  private def wrapConnection(c: Connection): Connection =
    proxy(classOf[Connection], c, (m, result) => m.getName match {
      case "createStatement" =>
        proxy(classOf[Statement], result, (_, r) => r)
      case "prepareStatement" =>
        proxy(classOf[java.sql.PreparedStatement], result, (_, r) => r)
      case _ => result
    })

  private object Wrapper extends Driver {
    def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
    def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else wrapConnection(DriverManager.getConnection(
        "jdbc:" + url.stripPrefix(Prefix), info))
    def getPropertyInfo(url: String, info: Properties)
        : Array[DriverPropertyInfo] = Array.empty
    def getMajorVersion: Int = 1
    def getMinorVersion: Int = 0
    def jdbcCompliant(): Boolean = false
    def getParentLogger: Logger = Logger.getGlobal
  }

  @volatile private var registered = false
  def register(): Unit = synchronized {
    if (!registered) {
      DriverManager.registerDriver(Wrapper)
      registered = true
    }
  }
}
