package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed operation: a load phase, a CDC batch, a micro-batch, a serve
  * batch or a query. Failed operations are recorded with their message and
  * never retried. */
final case class OpRec(kind: String, name: String, t0Ms: Double, wallS: Double,
                       ok: Boolean, error: String)

final case class Args(workload: String, in: String, work: String, out: String,
                      seconds: Int, trace: Boolean, cpus: Int, budget: Long)

object Args {
  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(kv("workload"), kv("in"), kv("work"), kv("out"), kv("seconds").toInt,
      kv("trace") == "1", kv("cpus").toInt, kv.getOrElse("budget", "0").toLong)
  }
}

/** What every workload provides. The harness calls, in order: `stage`
  * (loads the benchmark's own inputs; not part of set-up), `warmup` (the
  * write-once caches and the warm-up operations), `timed` (the measured
  * closed loop), `layerProbes` (traced runs only) and `dumpChecks`
  * (untimed outputs the runner checks). */
trait Workload {
  def stage(): Unit = ()
  def warmup(): Unit
  def timed(deadlineNs: Long): Unit
  def layerProbes(): Unit
  def dumpChecks(): Unit
  /** Directories whose files and bytes make up the workload's state. */
  def stateDirs: Seq[String]
  def close(): Unit = ()
}

final class Harness(val a: Args, val spark: SparkSession, val tracer: Tracer) {
  val t0Ns: Long = System.nanoTime()
  val t0Ms: Long = System.currentTimeMillis()
  val ops = mutable.ArrayBuffer.empty[OpRec]
  /** Free-form results the runner's checks and metrics read. */
  val results = mutable.LinkedHashMap.empty[String, Any]
  val probes = mutable.LinkedHashMap.empty[String, Any]

  def relMs(ns: Long): Double = (ns - t0Ns) / 1e6

  /** Run one closed-loop operation; a throw is counted, not retried. */
  def op[T](kind: String, name: String, layer: String)(body: => T): Option[T] = {
    val s = System.nanoTime()
    val r = try Right(tracer.span(layer, s"$kind:$name")(body))
      catch { case NonFatal(e) => Left(e) }
    val wall = (System.nanoTime() - s) / 1e9
    System.err.println(f"[graftbench] op $kind:$name ${wall}%.3f s ${if (r.isRight) "ok" else "FAILED"}")
    r match {
      case Right(v) => ops += OpRec(kind, name, relMs(s), wall, ok = true, ""); Some(v)
      case Left(e) =>
        val msg = s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("")}".take(400)
        ops += OpRec(kind, name, relMs(s), wall, ok = false, msg)
        None
    }
  }

  def secs(body: => Unit): Double = {
    val s = System.nanoTime(); body; (System.nanoTime() - s) / 1e9
  }

  /** Queries whose output the runner compares with `graft.Oracle.sql`;
    * each one's output is under `out/check/<query>`. */
  val checkQueries = mutable.ArrayBuffer.empty[String]

  /** Time one registered query forced with a noop write (an operation of
    * kind `probe:<query>`), then write its output for the oracle check,
    * untimed. An output that cannot be written fails the check. */
  def probeQuery(q: String)(df: => DataFrame): Unit = {
    val s = System.nanoTime()
    val ran = op(s"probe:$q", q, "queries")(Force(df)).isDefined
    probes(s"mix.$q.wall_s") = (System.nanoTime() - s) / 1e9
    if (ran) {
      checkQueries += q
      try df.write.mode("overwrite").parquet(s"${a.out}/check/$q")
      catch { case NonFatal(e) => System.err.println(s"[graftbench] $q output not written: $e") }
    }
  }

  /** Median wall of `n` forced runs (traced layer probes). */
  def medianSecs(n: Int)(body: => Unit): Double = {
    val xs = (1 to n).map(_ => secs(body)).sorted
    xs(xs.size / 2)
  }
}

object Main {
  def main(argv: Array[String]): Unit = {
    val a = Args.parse(argv)
    val tracer = new Tracer(a.trace)
    if (a.trace) graft.GraftFs.default = CountingFs

    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.sql.extensions", "graft.expr.GraftExtensions")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = uptimeS()

    val h = new Harness(a, spark, tracer)
    val plan = new PlanListener
    val progress = new ProgressListener
    if (a.trace) {
      spark.sparkContext.addSparkListener(plan)
      spark.streams.addListener(progress)
    }
    val w: Workload = a.workload match {
      case "tpcdi_load" => new TpcdiLoad(h)
      case "corpus_ingest" => new CorpusIngest(h)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val out = Paths.get(a.out)
    Files.createDirectories(out)
    try {
      val stageS = h.secs(w.stage())
      val warmS = h.secs(w.warmup())
      // set-up: JVM start to the first timed operation, less the loading of
      // the benchmark's own inputs
      val setupS = uptimeS() - stageS
      val start = System.nanoTime()
      w.timed(start + a.seconds * 1000000000L)
      val timedS = (System.nanoTime() - start) / 1e9
      if (a.trace) w.layerProbes()
      w.dumpChecks()
      w.close()
      if (a.trace) org.apache.spark.BenchAccess.drainListeners(spark.sparkContext)

      val result = mutable.LinkedHashMap[String, Any](
        "workload" -> a.workload,
        "setup" -> Map("setup_s" -> setupS, "session_s" -> sessionS,
          "warmup_s" -> warmS, "stage_s" -> stageS),
        "timed_s" -> timedS,
        "ops" -> h.ops.map(o => Map("kind" -> o.kind, "name" -> o.name, "t0_ms" -> o.t0Ms,
          "wall_s" -> o.wallS, "ok" -> o.ok, "error" -> o.error)),
        "results" -> h.results,
        "oracle_sql" -> h.checkQueries.map(q => q -> graft.Oracle.sql(q)).toMap,
        "vm_hwm_kb" -> vmHwmKb(),
        "store" -> storeStats(w.stateDirs))
      if (a.trace) {
        result("probes") = h.probes
        result("listener_busy_s") = plan.busyNs.get / 1e9
        result("jobs") = plan.finished.map { case (s, e, c) =>
          Map("start" -> (s - h.t0Ms).toDouble, "end" -> (e - h.t0Ms).toDouble) ++ c }
        result("progress") = progress.progress.asScala.toSeq.map { case (q, b, d) =>
          Map("query" -> q, "batch" -> b, "duration_ms" -> d) }
        result("fs") = Map("calls" -> CountingFs.counts,
          "bytes_written" -> CountingFs.bytesWritten.get)
        result("spans") = tracer.all.map(s => Seq(s.id, s.parent, s.trace, s.layer, s.name,
          h.relMs(s.t0), h.relMs(s.t1)))
      }
      Files.writeString(out.resolve("result.json"), Json(result))
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
  }

  private def uptimeS(): Double = ManagementFactory.getRuntimeMXBean.getUptime / 1e3

  private def vmHwmKb(): Long = {
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(-1L)
  }

  private def storeStats(dirs: Seq[String]): Map[String, Long] = {
    val files = dirs.map(Paths.get(_)).filter(Files.exists(_)).flatMap { d =>
      val s = Files.walk(d)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).toList
      finally s.close()
    }
    Map("files" -> files.size.toLong, "bytes" -> files.sum)
  }
}
