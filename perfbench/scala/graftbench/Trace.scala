package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicInteger}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.{GraftFs, NioFs}

/** One traced call into a layer: wall interval on the monotonic clock,
  * the span that caused it, and the operation (trace) it belongs to. */
final case class Span(id: Int, parent: Int, trace: Int, layer: String,
                      name: String, t0: Long, t1: Long)

/** Spans kept in memory and written out when the run ends. With tracing
  * off `span` is a bare call: the untraced run executes the same code. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (span id, trace id)
    override def initialValue(): List[(Int, Int)] = Nil
  }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get()
      val (parent, trace) = outer.headOption.map(p => (p._1, p._2)).getOrElse((0, id))
      stack.set((id, trace) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.synchronized { spans += Span(id, parent, trace, layer, name, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}

/** Spark work per job: wall interval, stage and task counts and task
  * metrics. The runner attributes each job to the operation span it starts
  * in (streaming jobs run on the stream's thread, so a thread-local tag
  * could not). */
final class PlanListener extends SparkListener {
  final class Job(val start: Long) {
    var end = 0L
    val c: Array[Long] = new Array[Long](PlanListener.Fields.size)
  }
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Job]()

  /** Time spent inside this listener's callbacks: the direct cost of the
    * tracing (it runs on the listener bus thread, beside the work). */
  val busyNs = new AtomicLong(0)
  private def busy(body: => Unit): Unit = {
    val t = System.nanoTime()
    body
    busyNs.addAndGet(System.nanoTime() - t)
  }

  private def add(j: Job, f: String, v: Long): Unit = {
    val i = PlanListener.Index(f)
    j.c.synchronized { j.c(i) += v }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = busy {
    val j = new Job(e.time)
    jobs.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = busy {
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = busy {
    Option(stageJob.get(e.stageInfo.stageId)).foreach(add(_, "stages", 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = busy {
    Option(stageJob.get(e.stageId)).foreach { j =>
      add(j, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(j, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead)
        add(j, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
        add(j, "input_records", m.inputMetrics.recordsRead)
        add(j, "spill_bytes", m.memoryBytesSpilled + m.diskBytesSpilled)
        add(j, "executor_run_ms", m.executorRunTime)
        add(j, "executor_cpu_ns", m.executorCpuTime)
        add(j, "gc_ms", m.jvmGCTime)
      }
    }
  }

  /** (start ms, end ms, counters by field) per finished job. */
  def finished: Seq[(Long, Long, Map[String, Long])] =
    jobs.values.asScala.toSeq.filter(_.end > 0).sortBy(_.start).map { j =>
      (j.start, j.end, j.c.synchronized(PlanListener.Fields.zip(j.c).toMap))
    }
}

object PlanListener {
  val Fields: Seq[String] = Seq("stages", "tasks", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_records", "spill_bytes", "executor_run_ms",
    "executor_cpu_ns", "gc_ms")
  private val Index = Fields.zipWithIndex.toMap
}

/** `StreamingQueryProgress.durationMs` per micro-batch, by query name. */
final class ProgressListener extends StreamingQueryListener {
  val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Map[String, Long])]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    progress.add((Option(p.name).getOrElse(p.id.toString), p.batchId,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap))
  }
}

/** Counting `GraftFs`: delegates every call to [[NioFs]] and counts calls
  * per method plus bytes written. An object, so the copies Spark's task
  * serialization makes resolve back to this one instance. */
object CountingFs extends GraftFs {
  private val calls = new ConcurrentHashMap[String, AtomicLong]()
  val bytesWritten = new AtomicLong(0)
  private def hit(m: String): Unit =
    calls.computeIfAbsent(m, _ => new AtomicLong(0)).incrementAndGet()
  def counts: Map[String, Long] = calls.asScala.map { case (k, v) => k -> v.get }.toMap

  def exists(path: String): Boolean = { hit("exists"); NioFs.exists(path) }
  def isDirectory(path: String): Boolean = { hit("isDirectory"); NioFs.isDirectory(path) }
  def isFile(path: String): Boolean = { hit("isFile"); NioFs.isFile(path) }
  def list(path: String): Seq[String] = { hit("list"); NioFs.list(path) }
  def walk(path: String): Seq[String] = { hit("walk"); NioFs.walk(path) }
  def readString(path: String): String = { hit("readString"); NioFs.readString(path) }
  def readBytes(path: String): Array[Byte] = { hit("readBytes"); NioFs.readBytes(path) }
  def readLines(path: String): Seq[String] = { hit("readLines"); NioFs.readLines(path) }
  def writeString(path: String, content: String): Unit = {
    hit("writeString"); bytesWritten.addAndGet(content.getBytes("UTF-8").length)
    NioFs.writeString(path, content)
  }
  def writeBytes(path: String, content: Array[Byte]): Unit = {
    hit("writeBytes"); bytesWritten.addAndGet(content.length)
    NioFs.writeBytes(path, content)
  }
  def createDirectories(path: String): Unit = { hit("createDirectories"); NioFs.createDirectories(path) }
  def createDirectoryClaim(path: String): Boolean = {
    hit("createDirectoryClaim"); NioFs.createDirectoryClaim(path)
  }
  def atomicReplace(src: String, dst: String): Unit = { hit("atomicReplace"); NioFs.atomicReplace(src, dst) }
  def moveIfAbsent(src: String, dst: String): Unit = { hit("moveIfAbsent"); NioFs.moveIfAbsent(src, dst) }
  override def replaceIfMatch(path: String, expected: Option[String], next: String): Option[Boolean] = {
    hit("replaceIfMatch"); NioFs.replaceIfMatch(path, expected, next)
  }
  def deleteIfExists(path: String): Unit = { hit("deleteIfExists"); NioFs.deleteIfExists(path) }
  def deleteRecursively(path: String): Unit = { hit("deleteRecursively"); NioFs.deleteRecursively(path) }
  def copy(src: String, dst: String): Unit = { hit("copy"); NioFs.copy(src, dst) }
  def size(path: String): Long = { hit("size"); NioFs.size(path) }
  def lastModifiedMillis(path: String): Long = { hit("lastModifiedMillis"); NioFs.lastModifiedMillis(path) }
  def openRead(path: String): java.io.InputStream = { hit("openRead"); NioFs.openRead(path) }
  def openWrite(path: String): java.io.OutputStream = {
    hit("openWrite")
    val out = NioFs.openWrite(path)
    new java.io.FilterOutputStream(out) {
      override def write(b: Int): Unit = { bytesWritten.incrementAndGet(); out.write(b) }
      override def write(b: Array[Byte], off: Int, len: Int): Unit = {
        bytesWritten.addAndGet(len); out.write(b, off, len)
      }
    }
  }
  def tryProcessLock(path: String): Option[AutoCloseable] = {
    hit("tryProcessLock"); NioFs.tryProcessLock(path)
  }
}

/** Minimal JSON writer for the run's result file (Map, Iterable, String,
  * Int/Long/Double, Boolean, Option/null). */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
