package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.functions._
import graft.plans.DeferredIngest
import graft.sources.ThemisKV

/** Layer microbenchmarks for the traced run, through public entry points
  * only: the fixed cost of a job and of a stage, the scan rate per table,
  * the fixed-width source and writer rates, the write leg of a
  * `DeferredIngest` plan, and the rows/s of each native kernel. */
final class Ladder(spark: SparkSession, trace: Trace, cpus: Int) {

  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  private def timed(reps: Int)(body: => Unit): Double = {
    body // warm-up
    median((1 to reps).map(_ => seconds(body)))
  }

  private def chain(exchanges: Int): DataFrame =
    (1 to exchanges).foldLeft(spark.range(0, 4096, 1, cpus).toDF("id")) { (df, _) =>
      df.repartition(cpus, col("id")).select((col("id") + 1).as("id"))
    }

  /** `core.job_floor_ms` and `core.stage_floor_ms`: a one-stage job, and the
    * marginal cost of each extra exchange on a four-exchange chain. */
  def floors(): Map[String, Double] = trace.span("core", "ladder.floors") {
    val job = timed(15)(noop(chain(0)))
    val four = timed(15)(noop(chain(4)))
    Map("core.job_floor_ms" -> job * 1e3,
      "core.stage_floor_ms" -> (four - job) / 4 * 1e3)
  }

  /** `core.scan_mb_s.<table>`: on-disk MB of a table over the seconds a full
    * `Tables.*` scan into a noop sink takes. */
  def scans(dir: String): Map[String, Double] =
    Seq("lineitem", "orders", "events", "documents", "embeddings").map { t =>
      val mb = Tables.tableBytes(spark, dir, t) / 1e6
      val s = trace.span("core", s"Tables.$t") {
        timed(3)(noop(Tables.load(spark, dir, t)))
      }
      s"core.scan_mb_s.$t" -> mb / s
    }.toMap

  /** `sources.fixed_read_mb_s` and `sources.fixed_write_mb_s`: a
    * `graft-fixed` read of `in` into noop, and `ThemisKV.writeFixed` of the
    * same records from cache into `out`. */
  def sources(in: String, out: String, mb: Double): Map[String, Double] = {
    val read = spark.read.format("graft-fixed")
      .option("record.length", 100).option("key.length", 10).load(in)
    val readS = trace.span("sources", "graft-fixed.read")(timed(3)(noop(read)))
    val cached = read.persist()
    cached.count()
    val writeS = trace.span("sources", "ThemisKV.writeFixed") {
      timed(3)(ThemisKV.writeFixed(cached, out, 100, 10))
    }
    cached.unpersist(blocking = true)
    Map("sources.fixed_read_mb_s" -> mb / readS, "sources.fixed_write_mb_s" -> mb / writeS)
  }

  /** `plans.deferred_write_s`: seconds inside the deferred body (a parquet
    * write of 1M generated rows) of a write-then-read `DeferredIngest` plan
    * executed into noop; the median of three after a warm-up. */
  def deferred(dir: String): Double = trace.span("plans", "DeferredIngest") {
    val plan = DeferredIngest(spark, "id BIGINT, s STRING") {
      spark.range(0, 1000000L, 1, cpus)
        .select(col("id"), concat(lit("row-"), col("id").cast("string")).as("s"))
        .write.mode("overwrite").parquet(dir)
      spark.read.parquet(dir).select(col("id"), col("s"))
    }
    def once(): Double = {
      DeferredIngest.resetBodyNanos()
      noop(plan)
      DeferredIngest.bodySeconds()
    }
    once()
    median(Seq.fill(3)(once()))
  }

  /** `functions.<kernel>.rows_s`: rows over the seconds a kernel projection
    * takes beyond a pass-through projection of the same cached columns. */
  def kernels(seed: Long): Map[String, Double] = {
    val dims = 16
    def vec(salt: Int): Column =
      array((0 until dims).map(j => ((col("id") * (31 + j) + salt * 7 + j) % 1000).cast("long")): _*)
    def cached(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    // scalar kernels over 1M rows, vector kernels over 200k 16-wide vectors
    val scalars = cached(spark.range(0, 1000000L, 1, cpus).select(col("id"),
      concat(lit("doc-"), col("id").cast("string")).as("s"),
      concat_ws(" ", (0 until 8).map(j =>
        concat(lit("w"), ((col("id") * (j + 3)) % 997).cast("string"))): _*).as("text")))
    val vectors = cached(spark.range(0, 200000L, 1, cpus)
      .select(vec(1).as("a"), vec(2).as("b")))
    val rnd = new scala.util.Random(seed)
    val centers = typedLit((0 until 16).map(c =>
      (c.toLong, (0 until dims).map(_ => rnd.nextInt(1000).toLong))))
    val bounds: Seq[Any] = (1 to 63).map(i => i * 1000000L / 64)
    val kernels: Seq[(String, DataFrame, Seq[Column], Column)] = Seq(
      ("themis_murmur64", scalars, Seq(col("s")), ThemisMurmur64(col("s"))),
      ("graft_hash60", scalars, Seq(col("s")), GraftHash60(col("s"))),
      ("graft_tokenize", scalars, Seq(col("text")), size(GraftTokenize(col("text")))),
      ("graft_boundary_id", scalars, Seq(col("id")), GraftBoundaryId(col("id"), bounds)),
      ("graft_dot", vectors, Seq(col("a"), col("b")), GraftDot(col("a"), col("b"))),
      ("graft_l2", vectors, Seq(col("a"), col("b")), GraftL2(col("a"), col("b"))),
      ("graft_nearest_cell", vectors, Seq(col("a")), GraftNearestCell(col("a"), centers)))
    try kernels.map { case (name, base, inputs, kernel) =>
      trace.span("functions", name) {
        val n = base.count()
        val pass = timed(5)(noop(base.select(inputs: _*)))
        val full = timed(5)(noop(base.select(kernel.as("k"))))
        // a kernel cheaper than the measurement noise still gets a finite rate
        s"functions.$name.rows_s" -> n / math.max(full - pass, full * 0.05)
      }
    }.toMap
    finally {
      scalars.unpersist(blocking = true)
      vectors.unpersist(blocking = true)
      ()
    }
  }
}
