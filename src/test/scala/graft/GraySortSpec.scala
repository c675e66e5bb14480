package graft

import java.nio.file.Files
import java.security.MessageDigest
import java.util.{Arrays => JArrays}

import org.apache.spark.sql.functions._

import graft.functions.ThemisMurmur64
import graft.sources.ThemisKV

/** End-to-end GraySort slice on the binary record path: deterministic
  * gensort-style generation → fixed-width write → graft-fixed DSv2 read
  * (record-aligned splits) → range partition + sort → valsort-style
  * validation (global order, count, permutation checksum). This is the
  * reference's phase 0/1/2 pipeline on its native record format; the
  * MinuteSort case proves the same pipeline 1-IO from task metrics
  * (`mapreduce/minute_sort.cc`), and the Daytona case sorts hot-prefix
  * keys (`daytona_minute_sort.cc`). */
class GraySortSpec extends SparkSpec {
  import spark.implicits._

  private val N = 20000

  /** Output-split balance (max/mean rows) both the uniform and the skewed
    * sort must meet; each measures about 1.1 here. A range partitioner
    * that cut only on coarse prefixes would funnel the skewed case's 25%
    * hot prefix into one of the 8 splits: max/mean >= 2. */
  private val MaxBalance = 1.5

  /** MD5-derived 10-byte keys and 90-byte values; with `skew`, every 4th
    * key shares one hot 4-byte prefix (bytes 4..9 still differ, so the
    * global order is total and boundary cuts must fall inside the hot
    * range). */
  private def genRecords(n: Int, skew: Boolean = false) = {
    spark.range(n).mapPartitions { it =>
      val md = MessageDigest.getInstance("MD5")
      it.map { i =>
        val d = md.digest(i.toString.getBytes("UTF-8"))
        val key = JArrays.copyOfRange(d, 0, 10)
        if (skew && i % 4 == 0) JArrays.fill(key, 0, 4, 0.toByte)
        val value = new Array[Byte](90)
        var off = 0
        var round = 0
        while (off < 90) {
          val block = md.digest((i + "_" + round).getBytes("UTF-8"))
          val take = math.min(16, 90 - off)
          System.arraycopy(block, 0, value, off, take)
          off += take; round += 1
        }
        ThemisKV.Rec(key, value)
      }
    }.toDF()
  }

  /** The sort and its valsort checks; returns each output split's rows. */
  private def sortAndValsort(skew: Boolean): Seq[Long] = {
    val dir = Files.createTempDirectory("graysort").toString
    val gen = genRecords(N, skew)
    ThemisKV.writeFixed(gen.repartition(4), dir, 100, 10)

    // read back through the DSv2 source with small splits (forces multiple
    // record-aligned chunks per file — the partial-tuple boundary case)
    val read = spark.read.format("graft-fixed")
      .option("record.length", 100).option("key.length", 10)
      .option("split.size", 64 * 1024)
      .load(dir)
    assert(read.rdd.getNumPartitions > 4, "small splits must produce chunks")
    assert(read.count() === N)

    // permutation check: order-independent checksum of whole records
    def checksum(df: org.apache.spark.sql.DataFrame): Long =
      df.select(sum(pmod(ThemisMurmur64(concat(col("key"), col("value"))),
        lit(1000000007L))).as("c"))
        .collect().head.getLong(0)
    assert(checksum(read) === checksum(gen), "read-back must be a permutation")

    // sort: range partition on the binary key + in-partition sort
    val sorted = read.repartitionByRange(8, col("key"))
      .sortWithinPartitions(col("key"))

    // valsort: per-partition (sorted?, min, max, count), then boundaries
    val summaries = sorted.select(col("key")).mapPartitions { it =>
      var first: Array[Byte] = null; var prev: Array[Byte] = null
      var ok = true; var n = 0L
      while (it.hasNext) {
        val k = it.next().getAs[Array[Byte]](0)
        if (prev != null && JArrays.compareUnsigned(prev, k) > 0) ok = false
        if (first == null) first = k
        prev = k; n += 1
      }
      if (n == 0) Iterator.empty
      else Iterator.single((org.apache.spark.TaskContext.getPartitionId(),
        first, prev, ok, n))
    }.collect().sortBy(_._1)

    assert(summaries.map(_._5).sum === N)
    assert(summaries.forall(_._4), "each partition must be sorted")
    summaries.sliding(2).foreach {
      case Array(a, b) =>
        assert(JArrays.compareUnsigned(a._3, b._2) <= 0,
          "partition max must not exceed next partition min")
      case _ =>
    }
    summaries.map(_._5).toSeq
  }

  private def balance(rows: Seq[Long]): Double =
    rows.max.toDouble / (rows.sum.toDouble / rows.length)

  test("gensort → fixed100 write → DSv2 read → sort → valsort") {
    val b = balance(sortAndValsort(skew = false))
    info(f"split balance $b%.3f")
    assert(b <= MaxBalance, s"uniform split balance $b")
  }

  test("Daytona skew: 25% of keys on one 4-byte prefix still sorts balanced") {
    val b = balance(sortAndValsort(skew = true))
    info(f"split balance $b%.3f")
    assert(b <= MaxBalance, s"skewed split balance $b > $MaxBalance: the " +
      "range cuts did not fall inside the hot prefix")
  }

  test("MinuteSort 1-IO: no spill, every record crosses the exchange once") {
    val base = Files.createTempDirectory("minutesort").toString
    ThemisKV.writeFixed(genRecords(N).repartition(4), s"$base/in", 100, 10)
    val sc = spark.sparkContext
    // registered after the input lands: the generator's shuffle is not
    // part of the sort
    val spilled, written, read = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        Option(e.taskMetrics).foreach { m =>
          spilled.addAndGet(m.diskBytesSpilled)
          written.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          read.addAndGet(m.shuffleReadMetrics.recordsRead)
        }
    }
    sc.addSparkListener(listener)
    try {
      val sorted = spark.read.format("graft-fixed")
        .option("record.length", 100).option("key.length", 10)
        .load(s"$base/in")
        .repartitionByRange(8, col("key"))
        .sortWithinPartitions(col("key"))
      ThemisKV.writeFixed(sorted, s"$base/out", 100, 10)
      org.apache.spark.GraftTestListenerBus.drain(sc)
    } finally sc.removeSparkListener(listener)
    assert(spilled.get === 0L, "the sort or the fetch spilled: not 1-IO")
    assert(written.get === N && read.get === N,
      s"shuffle wrote ${written.get} / read ${read.get} records for $N inputs")
    assert(spark.read.format("graft-fixed").option("record.length", 100)
      .option("key.length", 10).load(s"$base/out").count() === N)
  }

  test("themis-kv round-trips variable-length records including zero-length") {
    val dir = Files.createTempDirectory("themiskv").toString
    val recs = Seq(
      ThemisKV.Rec(Array[Byte](1, 2, 3), Array[Byte](9)),
      ThemisKV.Rec(Array.emptyByteArray, Array[Byte](7, 7)), // zero-length key
      ThemisKV.Rec(Array[Byte](5), Array.emptyByteArray),    // zero-length value
      ThemisKV.Rec(Array.tabulate(300)(_.toByte), Array.tabulate(1000)(_.toByte)))
    ThemisKV.write(recs.toDF().repartition(2), dir)
    val back = ThemisKV.read(spark, dir).as[ThemisKV.Rec].collect()
    def k(r: ThemisKV.Rec) = (r.key.toSeq, r.value.toSeq)
    assert(back.map(k).toSet === recs.map(k).toSet)
    assert(back.length === recs.length)
  }
}
