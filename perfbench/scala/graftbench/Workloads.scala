package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.etl.{BucketedTable, DelimitedSource, FixedWidthSource, IncrementalLoad, Scd2, WarehouseEtl, XmlSource}
import graft.expr.GraftFunctions
import graft.stream.Streams

/** One document of the ingest feed, as offered to the stream. */
final case class BenchDoc(doc_id: Long, text: String, source: String, embedding: Array[Float])

private object Force {
  def apply(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

/** Native-expression throughput on a workload's own columns (traced runs):
  * `base` carries `id` (long), `text` (string) and `v` (array<float>); rows
  * are repeated up to `n`, pinned, and each function is forced alone over
  * the pinned frame. Built-in formulations are timed where one exists. */
private object ExprProbe {
  def run(h: Harness, base: DataFrame, n: Int): Unit = {
    val spark = h.spark
    GraftFunctions.ensureRegistered(spark)
    val have = base.count()
    val reps = math.max(1L, (n + have - 1) / math.max(have, 1L))
    val df = base.crossJoin(spark.range(reps).select(col("id").as("rep")))
      .select((col("id") * reps + col("rep")).as("id"), col("text"),
        split(col("text"), " ").as("toks"), col("v"), reverse(col("v")).as("w"))
      .limit(n)
      .withColumn("pv", call_function("int8_pack", col("v")))
      .withColumn("pw", call_function("int8_pack", col("w")))
      .localCheckpoint(true)
    val rows = df.count()
    val dim = df.select(size(col("v"))).head().getInt(0)
    val lut = typedLit(Array.tabulate(dim * 256)(i => ((i * 7919) % 1000) / 1000.0))
    val sketch = {
      val bos = new java.io.ByteArrayOutputStream()
      df.stat.bloomFilter("text", rows, 0.01).writeTo(bos)
      lit(bos.toByteArray)
    }
    val native = Seq(
      "cosine_similarity" -> call_function("cosine_similarity", col("v"), col("w")),
      "word_ngrams" -> call_function("word_ngrams", col("toks"), lit(2)),
      "int8_pack" -> call_function("int8_pack", col("v")),
      "int8_dot" -> call_function("int8_dot", col("pv"), col("pw")),
      "pq_adc" -> call_function("pq_adc", col("pv"), lut),
      "dot_micro" -> call_function("dot_micro", col("v"), col("w")),
      "bloom_probe" -> call_function("bloom_probe", col("text"), sketch),
      "morton32" -> call_function("morton32", (col("id") % 65536).cast("int"),
        size(col("toks")).cast("int")),
      "char_entropy" -> call_function("char_entropy", col("text")))
    val builtin = Seq(
      "cosine_similarity" -> expr(
        "aggregate(zip_with(v, w, (x, y) -> cast(x as double) * y), 0D, (a, b) -> a + b) / " +
          "(sqrt(aggregate(v, 0D, (a, x) -> a + cast(x as double) * x)) * " +
          "sqrt(aggregate(w, 0D, (a, x) -> a + cast(x as double) * x)))"),
      "word_ngrams" -> expr(
        "transform(sequence(1, greatest(size(toks) - 1, 1)), i -> array_join(slice(toks, i, 2), ' '))"),
      "dot_micro" -> expr(
        "aggregate(zip_with(v, w, (x, y) -> cast(floor(cast(x as double) * cast(y as double) * 1e6) " +
          "as bigint)), 0L, (a, b) -> a + b)"))
    def rate(e: Column): Double =
      rows / h.medianSecs(3)(h.tracer.span("expr", "force")(Force(df.select(e.as("o")))))
    h.probes("expr_rows") = rows
    native.foreach { case (f, e) => h.probes(s"expr.$f.rows_per_s") = rate(e) }
    builtin.foreach { case (f, e) => h.probes(s"builtin.$f.rows_per_s") = rate(e) }
  }
}

/** The TPC-DI historical load (`q_warehouse_etl`: CSV, FINWIRE and XML
  * sources, SCD2, fact resolve) forced with a noop write, then seeded
  * I/U/D CDC batches folded one at a time through
  * `IncrementalLoad.runAudited`. */
final class TpcdiLoad(h: Harness) extends Workload {
  private val spark = h.spark
  private val sf = s"${h.a.in}/sf"
  private val cdc = s"${h.a.in}/cdc"
  private val batches = Files.list(Paths.get(cdc)).iterator().asScala
    .map(_.getFileName.toString).filter(_.startsWith("batch_")).toSeq.sorted
  private val passes = scala.collection.mutable.ArrayBuffer.empty[Seq[Seq[Any]]]

  def stateDirs: Seq[String] = extractDir.toSeq

  private def extractDir: Option[String] = {
    val root = Paths.get(sys.props("java.io.tmpdir"), "graft-wh")
    if (!Files.isDirectory(root)) None
    else Files.list(root).iterator().asScala
      .find(p => !p.getFileName.toString.contains(".tmp-")).map(_.toString)
  }

  /** Constructing the first query writes the source extracts (write-once
    * per data fingerprint). The warm-up load writes the funnel the checks
    * compare to the oracle. */
  def warmup(): Unit = {
    WarehouseEtl.qWarehouseEtl(spark, sf).write.mode("overwrite")
      .parquet(s"${h.a.out}/check/q_warehouse_etl")
    foldPass(1, record = false)
  }

  private def foldPass(n: Int, record: Boolean): Unit = {
    var state = spark.read.parquet(s"$cdc/snapshot.parquet")
    val reports = Seq.newBuilder[Seq[Any]]
    var ok = true
    batches.take(n).foreach { b =>
      if (ok) {
        val step = { () =>
          val (next, r) = IncrementalLoad.runAudited(state,
            Seq(b -> spark.read.parquet(s"$cdc/$b")), Seq("c_custkey"), "c_chk")
          state = next
          r.head
        }
        val r = if (record) h.op("cdc", b, "warehouse")(step()) else Some(step())
        r match {
          case Some(x) => reports += Seq(x.batch, x.n_records, x.n_upserts, x.n_deletes,
            x.n_keys_after, x.state_checksum)
          case None => ok = false // later batches would fold onto a wrong state
        }
      }
    }
    if (record) passes += reports.result()
  }

  def timed(deadlineNs: Long): Unit = {
    val start = System.nanoTime()
    val histEnd = start + (deadlineNs - start) / 2
    var n = 0
    while (n < 4 || System.nanoTime() < histEnd) {
      h.op("hist", "q_warehouse_etl", "warehouse")(Force(WarehouseEtl.qWarehouseEtl(spark, sf)))
      n += 1
    }
    var p = 0
    while (p < 1 || System.nanoTime() < deadlineNs) { foldPass(batches.size, record = true); p += 1 }
  }

  def layerProbes(): Unit = {
    val ext = extractDir.getOrElse(sys.error("no warehouse extracts under the temp dir"))
    val customerSchema = StructType(Seq(StructField("c_custkey", LongType),
      StructField("c_name", StringType), StructField("c_nationkey", IntegerType),
      StructField("c_mktsegment", StringType)))
    val layouts = Map(
      "CMP" -> Seq(FixedWidthSource.FieldSpec("s_suppkey", 4, 12, LongType),
        FixedWidthSource.FieldSpec("s_name", 16, 25),
        FixedWidthSource.FieldSpec("s_nationkey", 41, 4, IntegerType)),
      "SEC" -> Seq(FixedWidthSource.FieldSpec("p_partkey", 4, 12, LongType),
        FixedWidthSource.FieldSpec("p_brand", 16, 10),
        FixedWidthSource.FieldSpec("p_size", 26, 4, IntegerType)))
    val actionSchema = StructType(Seq(StructField("_type", StringType),
      StructField("Order", StructType(Seq(StructField("_c_id", LongType),
        StructField("_eff_us", LongType))))))
    val t = h.tracer
    h.probes("sources.csv_s") = h.medianSecs(3)(t.span("sources", "DelimitedSource.readWithRejects")(
      Force(DelimitedSource.readWithRejects(spark, s"$ext/customer_txt", customerSchema))))
    h.probes("sources.finwire_s") = h.medianSecs(3)(t.span("sources", "FixedWidthSource.readTypedWithRejects")(
      FixedWidthSource.readTypedWithRejects(spark, s"$ext/finwire_txt", 1, 3, layouts)
        .values.foreach(Force(_))))
    def actions = XmlSource.read(spark, s"$ext/actions_xml", "Action", Some(actionSchema))
      .select(col("Order._c_id").as("c_id"), col("Order._eff_us").as("eff_us"))
    h.probes("sources.xml_s") = h.medianSecs(3)(t.span("sources", "XmlSource.read")(Force(actions)))
    val pinned = actions.localCheckpoint(true)
    h.probes("scd2.build_s") = h.medianSecs(3)(t.span("warehouse", "Scd2.fromChangeLog")(
      Force(Scd2.fromChangeLog(pinned, Seq("c_id"), "eff_us"))))
    TpcdiLoad.Queries.foreach(q => h.probeQuery(q)(SparkEntry.queries(q)(spark, sf)))
    val li = spark.read.parquet(s"$sf/lineitem.parquet")
    ExprProbe.run(h, li.select(col("l_orderkey").as("id"),
      concat_ws(" ", col("l_returnflag"), col("l_linestatus"), col("l_partkey").cast("string"),
        col("l_suppkey").cast("string")).as("text"),
      array(col("l_quantity") / 50, col("l_extendedprice") / 1e5, col("l_discount") * 10,
        col("l_tax") * 10).cast("array<float>").as("v")).limit(100000), 100000)
  }

  def dumpChecks(): Unit = {
    h.results("cdc_passes") = passes.toSeq
    h.checkQueries += "q_warehouse_etl"
  }
}

object TpcdiLoad {
  /** The registered queries of the mix that read only the warehouse tables;
    * timed once each over the load's own tables in the traced run. */
  val Queries: Seq[String] = Seq("q_agg_hash", "q_join_shuffle", "q_win_rank",
    "q_sql_recursive", "q_pagerank")
}

/** Seeded document micro-batches through `Streams.corpusIngest` (LSH
  * dedup, IVF, audit log, holdout, quality, repetition and decontamination
  * gates, per-source budget; compaction and vacuum on every batch), each
  * followed by probe batches through `Streams.annServe` against the same
  * index. Batch 0 seeds the IVF centroids and is part of set-up; the
  * batches after it are timed. IVF-PQ and the retrain cadence are left
  * out: with them one micro-batch costs ~27 s on 4 cores and the seeding
  * one ~35 s, more than the benchmark's run budget holds. */
final class CorpusIngest(h: Harness) extends Workload {
  private val spark = h.spark
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val feed = s"${h.a.in}/stream"
  /** Timed micro-batches: a fixed amount of work per run (one per 24 run
    * seconds, at least one), so every commit grows the same index and runs
    * the same maintenance. Each is followed by `CorpusIngest.ServeRounds`
    * probe batches. */
  private val nTimed = math.max(1, h.a.seconds / 24)
  private val rounds = CorpusIngest.ServeRounds
  private var docs: IndexedSeq[Seq[BenchDoc]] = IndexedSeq.empty
  private var probes: IndexedSeq[Seq[(Long, Array[Float])]] = IndexedSeq.empty
  private var root = ""
  private var ingest: StreamingQuery = _
  private var serve: StreamingQuery = _
  private var offer: Int => Unit = _ => ()
  private var ask: Int => Unit = _ => ()

  private def dirs(r: String) = Map("dedup" -> s"$r/dedup", "lsh" -> s"$r/lsh",
    "corpus" -> s"$r/corpus", "ivf" -> s"$r/ivf",
    "audit" -> s"$r/audit", "served" -> s"$r/served")

  def stateDirs: Seq[String] = dirs(root).filter(_._1 != "served").values.toSeq

  override def stage(): Unit = {
    val d = spark.read.parquet(s"$feed/docs.parquet").filter(col("batch") <= nTimed)
      .as[(Long, String, String, Array[Float], Int, String)].collect()
    docs = d.groupBy(_._5).toSeq.sortBy(_._1).map(_._2.toSeq.sortBy(_._1)
      .map(x => BenchDoc(x._1, x._2, x._3, x._4))).toIndexedSeq
    val p = spark.read.parquet(s"$feed/probes.parquet").filter(col("batch") < (nTimed + 1) * rounds)
      .as[(Long, Array[Float], Int)].collect()
    probes = p.groupBy(_._3).toSeq.sortBy(_._1).map(_._2.toSeq.sortBy(_._1)
      .map(x => (x._1, x._2))).toIndexedSeq
    require(docs.size > nTimed && probes.size >= (nTimed + 1) * rounds,
      s"feed has ${docs.size} batches, run needs ${nTimed + 1}")
  }

  private def start(r: String): Unit = {
    stop()
    root = r
    val d = dirs(r)
    val memDocs = MemoryStream[BenchDoc]
    val memProbes = MemoryStream[(Long, Array[Float])]
    ingest = Streams.corpusIngest(memDocs.toDF(), d("dedup"), d("lsh"), d("corpus"),
        budgetPerSource = Some(h.a.budget), nBuckets = 16,
        vacuumEvery = 1, compactEvery = 1, ivfDir = Some(d("ivf")), ivfNlist = 8,
        auditDir = Some(d("audit")), holdoutSources = Seq("src0"),
        qualityGate = true, repetitionGate = true, decontaminate = true)
      .queryName("ingest").option("checkpointLocation", s"$r/ckpt-ingest").start()
    serve = Streams.annServe(memProbes.toDF().toDF("probe_id", "embedding"), d("ivf"),
        d("served"), k = 10)
      .queryName("serve").option("checkpointLocation", s"$r/ckpt-serve").start()
    offer = i => { memDocs.addData(docs(i)); ingest.processAllAvailable() }
    ask = i => { memProbes.addData(probes(i)); serve.processAllAvailable() }
  }

  private def stop(): Unit = {
    Option(ingest).foreach(_.stop()); Option(serve).foreach(_.stop())
    ingest = null; serve = null
  }

  /** Start the measured streams and run batch 0, which seeds the models,
    * with one serve batch. */
  def warmup(): Unit = {
    start(s"${h.a.work}/ingest")
    h.op("seed", "batch_000", "stream")(offer(0))
    h.op("seed_serve", "batch_000_r0", "ann")(ask(0))
  }

  def timed(deadlineNs: Long): Unit =
    (1 to nTimed).foreach { i =>
      h.op("ingest", f"batch_$i%03d", "stream")(offer(i))
      (0 until rounds).foreach(r => h.op("serve", f"batch_$i%03d_r$r", "ann")(ask(i * rounds + r)))
    }

  def layerProbes(): Unit = {
    val d = spark.read.parquet(s"$feed/docs.parquet").filter(col("batch") <= nTimed)
    // the batch curation funnel over the same documents: the streaming
    // gates' batch twin (etl.CorpusPipeline)
    val sf = s"${h.a.work}/sf"
    d.select(col("doc_id"), col("text"), lit("en").as("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$sf/documents.parquet")
    h.probeQuery("q_curation_audit")(graft.etl.CorpusPipeline.qCurationAudit(spark, sf))
    ExprProbe.run(h, d.select(col("doc_id").as("id"), col("text"), col("embedding").as("v")), 100000)
  }

  def dumpChecks(): Unit = {
    val d = dirs(root)
    BucketedTable.readCurrent(spark, d("corpus")).select("doc_id")
      .write.mode("overwrite").parquet(s"${h.a.out}/check/corpus_ids")
    h.results("timed_batches") = nTimed
    h.results("serve_rounds") = rounds
    h.results("dirs") = d
  }

  override def close(): Unit = stop()
}

object CorpusIngest {
  /** Probe batches served after each ingest micro-batch. */
  val ServeRounds = 3
}
