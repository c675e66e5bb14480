package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.sql.Timestamp

import scala.collection.mutable

import com.fasterxml.jackson.core.json.JsonWriteFeature
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.streaming.StreamingQuery

import graft.SparkEntry
import graft.core.Caches
import graft.operators.RealCodec
import graft.plans.DeferredIngest
import graft.sources.ThemisKV
import graft.streaming.Sessions

/** The benchmark's JVM: sets up one SparkSession, runs one workload as a
  * single closed-loop client, and writes every operation it timed to a
  * JSON file that `perfbench/run.py` turns into metrics and checks.
  *
  * {{{
  * Main --workload sql_small --seed 1 --seconds 10 --trace 0 --cpus 4
  *      --data <sf dir> --scaled-data <replica dir> --work <dir> --out <file>
  *      [--only q1,q2|*]
  * }}}
  *
  * `--only` runs just a cold pass over the named queries (`*`: all of the
  * workload's).
  */
object Main {

  /** Per-operation deadline (for a stream, per micro-batch): a query, sort
    * or stream that fails, hangs or answers wrongly is charged this many
    * seconds. Four times the slowest cold query
    * (q_curate, about 7.5 s on 4 cores), so that a host that steals a share
    * of the CPU does not time a working query out: 15 s did, at 22% steal. */
  val DeadlineS = 30.0

  val Workloads: Map[String, Set[String]] = Map(
    "sql_small" -> Set("q1_pricing_summary", "q3_topk_orders",
      "q5_nation_revenue", "q10_returned_items", "q13_custdist",
      "q21_waiting_supplier", "q_sort_global", "q_wordcount",
      "q_sessionize_gap", "q_scd2_intervals", "q_asof_join", "q_retention",
      "q_merge_upsert"),
    // the curation headlines that cover each mechanism once (text dedup,
    // MinHash, ANN, fixpoint loops, media) and fit the run budget;
    // q_dup_clusters_star runs observe() before the two write-then-read
    // queries
    "curate_scaled" -> Set("q_curate", "q_dup_clusters_star", "q_dedup_minhash",
      "q_dedup_incremental", "q_knn_brute", "q_ann_ivfpq", "q_pagerank",
      "q_image_dhash", "q_image_dedup_serve"),
    "sort_ingest" -> Set("q_text_lines", "q_merge_upsert_bucketed",
      "q_bucketed_join", "q_csv_roundtrip", "q_partitioned_write"))

  /** Queries of `curate_scaled` that read the corpus unreplicated: the
    * replicas share no tokens, and q_dedup_incremental splits history from
    * batch between them, so on the replicas it could never find a pair. */
  val UnscaledQueries = Set("q_dedup_incremental")

  /** Nominal seconds of one warm round per workload: `--seconds` buys
    * `seconds / nominal` rounds, so both sides of a comparison do the same
    * work. */
  val NominalRoundS = Map("sql_small" -> 5.0, "curate_scaled" -> 10.0,
    "sort_ingest" -> 5.0)
  val MinRounds = Map("sql_small" -> 2, "curate_scaled" -> 1,
    "sort_ingest" -> 2)

  val SortRecords = 320000L
  /** Micro-batches per stream leg; every pass of `sort_ingest` starts
    * each stream afresh and feeds it this many. */
  val DedupBatches = 8
  val DedupBatchRows = 4000
  val FpBatches = 3
  val FpBatchRows = 400

  /** Writes the result and span files the Python side reads; NaN and
    * infinities come out as bare tokens, which run.py reads as null. */
  val json: JsonMapper = JsonMapper.builder().addModule(DefaultScalaModule)
    .disable(JsonWriteFeature.WRITE_NAN_AS_STRINGS).build()

  final case class Args(workload: String, seed: Long, seconds: Double,
      trace: Boolean, cpus: Int, data: String, scaledData: String,
      work: String, out: String, only: Seq[String])

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble,
      m.getOrElse("trace", "0") == "1", m("cpus").toInt, m("data"),
      m.getOrElse("scaled-data", m("data")), m("work"), m("out"),
      m.get("only").map(_.split(",").toSeq.filter(_.nonEmpty)).getOrElse(Nil))
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    new File(a.work).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[${a.cpus}]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", a.cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .getOrCreate()
    spark.range(1).count()
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    spark.sparkContext.setLogLevel("WARN")
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> a.workload, "seed" -> a.seed, "cpus" -> a.cpus,
      "setup_s" -> setupS, "deadline_s" -> DeadlineS,
      "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.toArray.toSeq)
    val bench = new Bench(spark, a)
    try bench.run(result) finally bench.close()
    result("peak_rss_mb") = peakRssMb()
    json.writeValue(new File(a.out), result)
    spark.stop()
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }
}

/** One workload run. Every timed operation appends one record to `ops`:
  * its name, kind (query, sort or stream), pass label, seconds, and
  * whether it ran (`ok`) and what it returned. */
final class Bench(spark: SparkSession, a: Main.Args) {
  import Main._

  private val trace = new Trace(a.trace)
  private val runner = new Runner(spark, trace, DeadlineS)
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val layer = mutable.LinkedHashMap.empty[String, Any]
  private val rounds = math.max(MinRounds(a.workload),
    math.round(a.seconds / NominalRoundS(a.workload)).toInt)

  if (a.trace) spark.sparkContext.addSparkListener(trace.listener)

  def close(): Unit = runner.shutdown()

  private def queries: Seq[String] = {
    val want = if (a.only.isEmpty || a.only == Seq("*")) Workloads(a.workload) else a.only.toSet
    val names = SparkEntry.headlines.filter(want)
    require(names.toSet == want,
      s"not registered as headlines: ${(want -- names).mkString(",")}")
    names
  }

  private def dataDir: String =
    if (a.workload == "curate_scaled") a.scaledData else a.data

  private def dataFor(q: String): String =
    if (UnscaledQueries(q)) a.data else dataDir

  /** One pass: each of the workload's queries executed once into a
    * fingerprinting sink, with `Caches.release()` after each; on
    * `sort_ingest` then one ingest pass of sorts and streams. */
  private def pass(label: String, ingest: Option[SortLeg], traced: Boolean = true): Unit = {
    if (a.trace && !traced) spark.sparkContext.removeSparkListener(trace.listener)
    queries.foreach { q =>
      DeferredIngest.resetBodyNanos()
      val (dt, res, group) = runner.op("queries", q) {
        Check.fingerprint(SparkEntry.queries(q)(spark, dataFor(q)))
      }
      val deferredS = DeferredIngest.bodySeconds()
      trace.span("core", "Caches.release")(Caches.release())
      ops += Map("name" -> q, "kind" -> "query", "pass" -> label,
        "seconds" -> dt, "ok" -> res.isRight,
        "error" -> res.left.toOption, "rows" -> res.toOption.map(_._1),
        "fp" -> res.toOption.map(_._2.toString), "deferred_s" -> deferredS,
        "group" -> group)
    }
    ingest.foreach(ingestPass(label, _, fingerprints = true))
    if (a.trace && !traced) spark.sparkContext.addSparkListener(trace.listener)
  }

  /** A uniform and a skewed sort, then a dedup stream and (when asked) a
    * fingerprint stream, each started afresh and fed its micro-batches. */
  private def ingestPass(label: String, sorter: SortLeg, fingerprints: Boolean): Unit = {
    sorter.sortOnce("uniform", label)
    sorter.sortOnce("skew", label)
    ops += new DedupStream(label).run()
    if (fingerprints) ops += new FingerprintStream(label).run()
  }

  def run(result: mutable.Map[String, Any]): Unit = {
    val sc = spark.sparkContext
    val ladder = new Ladder(spark, trace, a.cpus)
    // before any query: once an observe()-bearing query has run, the
    // session-order defect fails every later DeferredIngest plan
    if (a.trace) layer("plans.deferred_write_s") = ladder.deferred(s"${a.work}/deferred")
    // the sort inputs are generated before the cold pass, untimed
    val sorter =
      if (a.only.isEmpty && (a.workload == "sort_ingest" || a.trace)) Some(new SortLeg) else None
    val ingest = sorter.filter(_ => a.workload == "sort_ingest")
    val rddsBefore = sc.getPersistentRDDs.size
    val confBefore = spark.conf.getAll
    CodeGenerator.resetCompileTime()
    pass("cold", ingest)
    layer("core.codegen_ms") = CodeGenerator.compileTime / 1e6
    layer("core.leaked_cached_rdds") = (sc.getPersistentRDDs.size - rddsBefore).toDouble
    val confAfter = spark.conf.getAll
    layer("core.leaked_conf_keys") = (confBefore.keySet ++ confAfter.keySet)
      .count(k => confBefore.get(k) != confAfter.get(k)).toDouble
    if (a.only.isEmpty) {
      (1 to rounds).foreach(i => pass(s"warm$i", ingest))
      if (a.trace) {
        // the same work untraced: traced minus untraced is the tracing overhead
        pass("untraced", ingest, traced = false)
        layer ++= ladder.floors()
        layer ++= ladder.scans(dataDir)
        layer ++= ladder.kernels(a.seed)
        // the same sorts and dedup stream on every workload: one
        // unmeasured ingest pass, then two measured ones
        sorter.foreach { s =>
          (0 to 2).foreach(i => ingestPass(s"ladder$i", s, fingerprints = false))
          val (in, mb) = s.uniformInput
          layer ++= ladder.sources(in, s.scratch, mb)
        }
      }
    }
    trace.settle()
    result("ops") = ops.map { o =>
      if (a.trace) o ++ trace.countersFor(o("group").toString) else o
    }
    result("layer") = layer
    if (a.trace) {
      result("layer_self_s") = trace.selfSeconds
      val spans = s"${a.work}/spans.jsonl"
      trace.write(spans)
      result("spans") = spans
    }
  }

  /** gensort-style sorts on the fixed-width format: seeded 100-byte
    * records, uniform and with 25% of keys on one hot 4-byte prefix, read
    * through `graft-fixed`, range-partitioned, sorted within partitions and
    * written with `ThemisKV.writeFixed`; every output passes valsort. */
  final class SortLeg {
    private val base = s"${a.work}/sort"
    private val inputs: Map[String, (String, Long, Long)] =
      Seq("uniform" -> false, "skew" -> true).map { case (kind, skew) =>
        val dir = s"$base/$kind/in"
        trace.span("sources", s"generate.$kind") {
          ThemisKV.writeFixed(records(skew), dir, 100, 10)
        }
        val (n, sum) = Check.recordSum(dir, 100)
        kind -> (dir, n, sum)
      }.toMap

    private def records(skew: Boolean): DataFrame = {
      val seed = a.seed
      spark.range(0, SortRecords, 1, a.cpus).map { i =>
        val rec = new Array[Byte](100)
        var x = seed * 0x9E3779B97F4A7C15L + i
        var off = 0
        while (off < 100) {
          x += 0x9E3779B97F4A7C15L
          var z = x
          z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
          z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
          z = z ^ (z >>> 31)
          var b = 0
          while (b < 8 && off < 100) { rec(off) = (z >>> (8 * b)).toByte; b += 1; off += 1 }
        }
        if (skew && i % 4 == 0) { rec(0) = 0; rec(1) = 0; rec(2) = 0; rec(3) = 0 }
        (java.util.Arrays.copyOfRange(rec, 0, 10), java.util.Arrays.copyOfRange(rec, 10, 100))
      }(Encoders.tuple(Encoders.BINARY, Encoders.BINARY)).toDF("key", "value")
    }

    def sortOnce(kind: String, label: String): Unit = {
      val (in, n, sum) = inputs(kind)
      val out = s"$base/$kind/out"
      val (dt, res, group) = runner.op("sources", s"sort.$kind") {
        val sorted = spark.read.format("graft-fixed")
          .option("record.length", 100).option("key.length", 10).load(in)
          .repartitionByRange(a.cpus, col("key"))
          .sortWithinPartitions(col("key"))
        ThemisKV.writeFixed(sorted, out, 100, 10)
      }
      val check = res.flatMap(_ => trace.span("sources", s"valsort.$kind") {
        Check.valsort(out, 100, 10, n, sum)
      })
      val balance = check.toOption.filter(_.nonEmpty).map { rows =>
        rows.max.toDouble / (rows.sum.toDouble / rows.length)
      }
      ops += Map("name" -> s"sort.$kind", "kind" -> "sort", "pass" -> label,
        "bytes" -> n * 100, "seconds" -> dt, "ok" -> res.isRight,
        "wrong" -> (res.isRight && check.isLeft),
        "error" -> (res.left.toOption orElse check.left.toOption),
        "split_balance" -> balance, "group" -> group)
    }

    /** The uniform input and its size in MB, for the source ladder. */
    def uniformInput: (String, Double) = {
      val (in, n, _) = inputs("uniform")
      (in, n * 100 / 1e6)
    }
    def scratch: String = s"$base/write"
  }

  private def ts(i: Long, total: Long): Timestamp =
    // all event times fall inside one watermark delay, so no state expires
    // and the exact output count is the number of distinct keys
    new Timestamp(60000L + i * 300000L / total)

  /** Closed-loop micro-batches from a MemoryStream into a graft stream,
    * started afresh for one pass: each batch is `addData` then
    * `processAllAvailable`, timed together. The operation is the whole
    * leg, start to stop. */
  abstract class StreamLeg[T](name: String, label: String, batches: Int, batchRows: Int) {
    protected def input: MemoryStream[T]
    protected def output: DataFrame
    protected def rows(batch: Int): Seq[T]
    /** Exact number of rows the stream must emit for everything fed. */
    protected def expected(fed: Seq[T]): Long

    def run(): Map[String, Any] = {
      val t0 = System.nanoTime()
      val emitted = new java.util.concurrent.atomic.AtomicLong
      val ck = s"${a.work}/stream-$name-$label"
      val (_, started, group) = runner.op("streaming", s"$name.start") {
        output.writeStream
          .option("checkpointLocation", ck)
          .foreachBatch { (df: DataFrame, _: Long) => emitted.addAndGet(df.count()); () }
          .start()
      }
      val fed = mutable.ArrayBuffer.empty[T]
      val batchMs = mutable.ArrayBuffer.empty[Double]
      val progress = mutable.ArrayBuffer.empty[Map[String, Any]]
      var error: Option[String] = started.left.toOption
      started.foreach { q: StreamingQuery =>
        var b = 0
        while (b < batches && error.isEmpty) {
          val data = rows(b)
          val (dt, res, _) = runner.op("streaming", s"$name.batch") {
            input.addData(data)
            q.processAllAvailable()
          }
          error = res.left.toOption
          if (error.isEmpty) {
            fed ++= data
            batchMs += dt * 1e3
            Option(q.lastProgress).foreach { p =>
              val d = p.durationMs
              def ms(k: String): Any = if (d.containsKey(k)) d.get(k).toDouble else null
              val st = p.stateOperators.headOption
              progress += Map("add_batch_ms" -> ms("addBatch"),
                "wal_commit_ms" -> ms("walCommit"),
                "state_rows" -> st.map(_.numRowsTotal).getOrElse(0L),
                "state_mb" -> st.map(_.memoryUsedBytes / 1e6).getOrElse(0.0))
            }
          }
          b += 1
        }
        q.stop()
      }
      val want = if (error.isEmpty) expected(fed.toSeq) else -1L
      val wrong = error.isEmpty && emitted.get != want
      Map("name" -> s"stream.$name", "kind" -> "stream", "pass" -> label,
        "seconds" -> (System.nanoTime() - t0) / 1e9, "group" -> group,
        "batch_rows" -> batchRows, "batches" -> batches,
        "batch_ms" -> batchMs.toSeq, "emitted" -> emitted.get, "expected" -> want,
        "ok" -> error.isEmpty, "wrong" -> wrong,
        "error" -> (if (wrong) Some(s"emitted ${emitted.get} rows, expected $want") else error),
        "progress" -> progress.toSeq)
    }
  }

  /** `Sessions.dedupStream` over event ids where about a third of the rows
    * repeat an id seen in the last few thousand rows. */
  final class DedupStream(label: String)
      extends StreamLeg[(Long, Timestamp)]("dedup", label, DedupBatches, DedupBatchRows) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    protected val input: MemoryStream[(Long, Timestamp)] = MemoryStream[(Long, Timestamp)]
    protected val output: DataFrame = Sessions.dedupStream(
      input.toDF().toDF("event_id", "ts"), "10 minutes", Seq("event_id"))
    private val rnd = new scala.util.Random(a.seed)
    private val ids = mutable.ArrayBuffer.empty[Long]
    private val total = DedupBatches.toLong * DedupBatchRows
    protected def rows(batch: Int): Seq[(Long, Timestamp)] =
      (0 until DedupBatchRows).map { j =>
        val i = batch.toLong * DedupBatchRows + j
        val id =
          if (ids.nonEmpty && rnd.nextInt(3) == 0)
            ids(ids.length - 1 - rnd.nextInt(math.min(ids.length, 5000)))
          else a.seed * 1000003L + i * 7919L
        ids += id
        (id, ts(i, total))
      }
    protected def expected(fed: Seq[(Long, Timestamp)]): Long =
      fed.map(_._1).distinct.length.toLong
  }

  /** `RealCodec.fingerprintStream`: images rendered, PNG-encoded and decoded
    * inside the stream, deduplicated on their perceptual hash. The expected
    * count is the number of distinct hashes of the same images rendered
    * directly, without the codec. */
  final class FingerprintStream(label: String)
      extends StreamLeg[(Long, Int, Int, Timestamp)]("fp", label, FpBatches, FpBatchRows) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    import spark.implicits._
    protected val input: MemoryStream[(Long, Int, Int, Timestamp)] =
      MemoryStream[(Long, Int, Int, Timestamp)]
    protected val output: DataFrame = RealCodec.fingerprintStream(
      input.toDF().toDF("media_id", "w", "h", "ts"), "10 minutes")
    private val rnd = new scala.util.Random(a.seed)
    private val total = FpBatches.toLong * FpBatchRows
    protected def rows(batch: Int): Seq[(Long, Int, Int, Timestamp)] =
      (0 until FpBatchRows).map { j =>
        val i = batch.toLong * FpBatchRows + j
        val id = rnd.nextInt(4000).toLong
        (id, (id % 9 + 8).toInt, (id % 7 + 8).toInt, ts(i, total))
      }
    protected def expected(fed: Seq[(Long, Int, Int, Timestamp)]): Long =
      fed.map { case (id, w, h, _) => (id, w, h) }.distinct
        .map { case (id, w, h) => RealCodec.dHash(RealCodec.renderGray(id, w, h)) }
        .distinct.length.toLong
  }
}
