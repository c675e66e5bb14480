package graft.perfbench

import java.io.{BufferedInputStream, DataInputStream, File, FileInputStream}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row}

/** Output checks: an order-insensitive fingerprint of a query's rows, and a
  * valsort-style check of a sorted fixed-width output. */
object Check {

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def str(s: String): Long =
    (MurmurHash3.stringHash(s, 17).toLong << 32) ^
      (MurmurHash3.stringHash(s, 91).toLong & 0xFFFFFFFFL)

  /** Doubles drop their 12 lowest mantissa bits, so a last-place rounding
    * difference between two runs of a float sum does not read as a wrong
    * answer. */
  def value(v: Any): Long = v match {
    case null => 0x5bd1e995L
    case d: Double =>
      if (d == 0.0) 0L
      else mix(java.lang.Double.doubleToLongBits(d) & ~0xFFFL)
    case f: Float =>
      if (f == 0.0f) 0L
      else mix(java.lang.Float.floatToIntBits(f).toLong & ~0x3L)
    case n: Long => mix(n)
    case n: Int => mix(n.toLong)
    case n: Short => mix(n.toLong)
    case n: Byte => mix(n.toLong)
    case b: Boolean => if (b) 0x1234L else 0x4321L
    case s: String => str(s)
    case d: java.math.BigDecimal => str(d.stripTrailingZeros.toPlainString)
    case b: Array[Byte] =>
      (MurmurHash3.bytesHash(b, 17).toLong << 32) ^
        (MurmurHash3.bytesHash(b, 91).toLong & 0xFFFFFFFFL)
    case r: Row => ordered(r.toSeq)
    case m: scala.collection.Map[_, _] =>
      m.iterator.map { case (k, x) => mix(value(k) * 31 + value(x)) }.sum
    case xs: scala.collection.Seq[_] => ordered(xs)
    case other => str(other.toString)
  }

  private def ordered(xs: scala.collection.Seq[_]): Long = {
    var h = xs.length.toLong
    xs.foreach(x => h = mix(h * 31 + value(x)))
    h
  }

  /** Executes `df` once and returns (rows, fingerprint); the fingerprint is
    * a sum of row hashes, so partitioning and row order do not change it. */
  def fingerprint(df: DataFrame): (Long, Long) = {
    val sc = df.sparkSession.sparkContext
    val rows = sc.longAccumulator("perfbench.rows")
    val fp = sc.longAccumulator("perfbench.fp")
    df.foreachPartition { (it: Iterator[Row]) =>
      var n = 0L
      var h = 0L
      it.foreach { r => n += 1; h += value(r) }
      rows.add(n)
      fp.add(h)
    }
    (rows.value.longValue, fp.value.longValue)
  }

  /** Sum of record hashes over every fixed-width record in `dir`. */
  def recordSum(dir: String, recordLen: Int): (Long, Long) = {
    var n = 0L
    var h = 0L
    parts(dir).foreach { f =>
      eachRecord(f, recordLen) { rec => n += 1; h += value(rec) }
    }
    (n, h)
  }

  /** valsort: output parts, in name order, hold exactly the input's records
    * (count and record-hash sum) in global key order. Returns the rows per
    * part, or an error. */
  def valsort(dir: String, recordLen: Int, keyLen: Int,
      expectN: Long, expectSum: Long): Either[String, Seq[Long]] = {
    var prev: Array[Byte] = null
    var n = 0L
    var h = 0L
    var error: String = null
    val perPart = parts(dir).map { f =>
      var rows = 0L
      eachRecord(f, recordLen) { rec =>
        val key = java.util.Arrays.copyOfRange(rec, 0, keyLen)
        if (error == null && prev != null &&
            java.util.Arrays.compareUnsigned(prev, key) > 0)
          error = s"key order broken at record $n (${f.getName})"
        prev = key
        n += 1
        rows += 1
        h += value(rec)
      }
      rows
    }
    if (error != null) Left(error)
    else if (n != expectN) Left(s"record count $n != $expectN")
    else if (h != expectSum) Left("record checksum differs from the input's")
    else Right(perPart)
  }

  private def parts(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).getOrElse(Array.empty[File]).toSeq
      .filter(f => f.isFile && !f.getName.startsWith(".") &&
        !f.getName.startsWith("_"))
      .sortBy(_.getName)

  private def eachRecord(f: File, recordLen: Int)(fn: Array[Byte] => Unit): Unit = {
    val in = new DataInputStream(new BufferedInputStream(new FileInputStream(f), 1 << 20))
    try {
      var left = f.length / recordLen
      while (left > 0) {
        val rec = new Array[Byte](recordLen)
        in.readFully(rec)
        fn(rec)
        left -= 1
      }
    } finally in.close()
  }
}
