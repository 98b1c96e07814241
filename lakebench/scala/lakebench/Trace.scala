package lakebench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON rendering for the raw record the runner post-processes. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case o: Option[_] => o.map(value).getOrElse("null")
    case other => str(other.toString)
  }
}

/** One recorded span: a call into one layer's public surface, made from
  * the benchmark's own code. Times are epoch milliseconds (fractional),
  * on the same clock as Spark's listener events. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      t0: Double, var t1: Double = 0.0,
                      attrs: mutable.Map[String, Any] = mutable.LinkedHashMap.empty)

/** Span recorder for the single client thread. Every workload op is a
  * root span and calls into layers open child spans; both cost a clock
  * read and are always on. A traced run adds the Spark listeners below,
  * whose jobs, stages and Catalyst phases the runner attributes to the
  * span open at the time, and the byte accounting between calls. */
final class Recorder(val traced: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis().toDouble
  def now(): Double = baseMs + (System.nanoTime() - baseNs) / 1e6

  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextOp = 0

  /** The innermost open span, for attaching attributes. */
  def current: Option[Span] = stack.headOption

  /** A root span: one closed-loop op. `ok` is false when the op threw or
    * its result failed a check made inside the op. */
  def op[T](name: String, attrs: (String, Any)*)(body: Span => T): Option[T] = {
    val id = nextOp; nextOp += 1
    val s = Span(spans.size, -1, id, name, now())
    attrs.foreach { case (k, v) => s.attrs(k) = v }
    spans += s
    stack.push(s)
    Host.sample(this, "op_start")
    try Some(body(s))
    catch { case e: Throwable =>
      s.attrs("ok") = false
      s.attrs("error") = s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" | ")}"
      None
    } finally {
      stack.pop()
      s.t1 = now()
      if (!s.attrs.contains("ok")) s.attrs("ok") = true
      Host.sample(this, "op_end")
    }
  }

  /** A child span around one layer call, inside an op. */
  def span[T](name: String)(body: => T): T =
    if (stack.isEmpty) body
    else {
      val parent = stack.head
      val s = Span(spans.size, parent.id, parent.op, name, now())
      spans += s
      stack.push(s)
      try body finally { stack.pop(); s.t1 = now() }
    }

  def ops: Seq[Span] = spans.filter(_.parent < 0).toSeq

  val host = mutable.ArrayBuffer.empty[Map[String, Any]]
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def add(name: String, v: Double): Unit = counters(name) = counters.getOrElse(name, 0.0) + v
}

/** `/proc/stat` and `/proc/loadavg` readings at run and op boundaries:
  * steal, busy share and load, so a noisy run is flagged, never dropped. */
object Host {
  private def read(path: String): Option[String] =
    scala.util.Try(java.nio.file.Files.readString(java.nio.file.Paths.get(path))).toOption

  def sample(rec: Recorder, at: String): Unit = {
    val cpu = read("/proc/stat").flatMap(_.linesIterator.find(_.startsWith("cpu ")))
      .map(_.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.empty[Long])
    val load = read("/proc/loadavg").map(_.split("\\s+")(0).toDouble).getOrElse(-1.0)
    rec.host += Map("t" -> rec.now(), "at" -> at, "cpu" -> cpu.toSeq, "load1" -> load)
  }
}

/** GC time and the largest heap occupancy seen after a collection. */
final class GcWatch {
  private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).toSeq
  private var gcMs0 = 0L
  @volatile private var peak = 0L
  @volatile private var armed = false
  private val listener = new javax.management.NotificationListener {
    override def handleNotification(n: javax.management.Notification, hb: Any): Unit =
      if (armed && n.getType == "com.sun.management.gc.notification") {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools.exists(_.getName == pool) => u.getUsed }.sum
        if (used > peak) peak = used
      }
  }
  beans.foreach(b => b.asInstanceOf[javax.management.NotificationEmitter]
    .addNotificationListener(listener, null, null))

  private def gcMs: Long = beans.map(_.getCollectionTime.max(0L)).sum

  def start(): Unit = { gcMs0 = gcMs; peak = 0L; armed = true }

  /** Ends the window with one full collection. Returns GC seconds, the
    * peak heap after a collection (never below the live heap at the end)
    * and the live heap at the end, in MB. */
  def stop(): (Double, Double, Double) = {
    val gcS = (gcMs - gcMs0) / 1000.0
    System.gc()
    armed = false
    val live = heapPools.map(p => Option(p.getCollectionUsage).map(_.getUsed).getOrElse(0L)).sum
    val mb = 1024.0 * 1024.0
    (gcS, math.max(peak, live) / mb, live / mb)
  }
}

/** Spark's public listener hooks, registered only on traced runs: jobs
  * with their stages, per-stage task metrics, and Catalyst phase times. */
final class SparkTrace extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[mutable.Map[String, Any]]()
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, mutable.Map[String, Any]]()
  val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  val queries = new ConcurrentLinkedQueue[Map[String, Any]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val j = mutable.Map[String, Any]("id" -> e.jobId, "t0" -> e.time.toDouble,
      "stages" -> e.stageIds.toSeq)
    jobById.put(e.jobId, j)
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobById.get(e.jobId)).foreach(_("t1") = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    val m = si.taskMetrics
    val base = Map[String, Any]("id" -> si.stageId, "tasks" -> si.numTasks,
      "t0" -> si.submissionTime.map(_.toDouble).getOrElse(0.0),
      "t1" -> si.completionTime.map(_.toDouble).getOrElse(0.0))
    stages.add(if (m == null) base else base ++ Map(
      "run_ms" -> m.executorRunTime,
      "cpu_ns" -> m.executorCpuTime,
      "ser_ms" -> m.resultSerializationTime,
      "deser_ms" -> m.executorDeserializeTime,
      "shuffle_read" -> (m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "shuffle_write" -> m.shuffleWriteMetrics.bytesWritten,
      "spill" -> (m.memoryBytesSpilled + m.diskBytesSpilled),
      "in_bytes" -> m.inputMetrics.bytesRead,
      "out_bytes" -> m.outputMetrics.bytesWritten,
      "out_rows" -> m.outputMetrics.recordsWritten))
  }

  /** File format of a path write (`df.write.format(f).save`), if any. */
  private def writeFormat(qe: QueryExecution): Option[String] =
    scala.util.Try(qe.analyzed.collectFirst {
      case w: InsertIntoHadoopFsRelationCommand => w.fileFormat match {
        case r: DataSourceRegister => r.shortName()
        case f => f.toString.toLowerCase
      }
    }).toOption.flatten

  private def record(func: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String): Double = ph.get(p).map(s => (s.endTimeMs - s.startTimeMs).toDouble).getOrElse(0.0)
    val t = ph.values.map(_.startTimeMs).minOption.map(_.toDouble).getOrElse(0.0)
    queries.add(Map("func" -> func, "ok" -> ok, "t" -> t, "dur_ms" -> durationNs / 1e6,
      "format" -> writeFormat(qe),
      "analysis_ms" -> dur("analysis"), "optimization_ms" -> dur("optimization"),
      "planning_ms" -> dur("planning")))
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe, durationNs, ok = true)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe, 0L, ok = false)
}
