package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.core.Tables

/** The events `ts` column has shipped in two physical generations:
  * TIMESTAMP(NANOS) (readable only as long under nanosAsLong) and native
  * TIMESTAMP(MICROS). Reading one as the other is silent data corruption —
  * a micros file rescaled as nanos compresses 30 days of events into ~43
  * minutes, which is exactly the round-8 regression (12 temporal queries
  * degraded, sessionization collapsed to one session per user). These
  * tests pin the footer probe on both generations plus the tripwire that
  * catches any future re-break: the loaded table must span a sane range. */
class TablesTsSpec extends SparkSpec {

  test("probe detects native micro timestamps in driver testdata") {
    assert(Tables.probeTsStorage(s"$sfDir/events.parquet") ===
      Tables.TsNativeTimestamp(utcAdjusted = false))
  }

  test("loading native-micros events leaves the session's conf as it was") {
    val s = spark.newSession()
    val before = s.conf.getAll
    Tables.events(s, sfDir).count()
    val after = s.conf.getAll
    val written = (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k))
    assert(written.isEmpty, s"Tables.events wrote the session's SQLConf: $written")
  }

  test("probe falls back to legacy nanos for bare INT64 ts") {
    val dir = Files.createTempDirectory("events_nanos").toFile
    val path = s"${dir.getAbsolutePath}/events.parquet"
    // legacy generator convention: ts is a raw int64 of epoch NANOS
    val baseNanos = 1704067200L * 1000000000L // 2024-01-01T00:00:00Z
    spark.range(3).selectExpr(
      "id AS event_id",
      s"${baseNanos}L + id * 3600L * 1000000000L AS ts",
      "id AS user_id", "'click' AS event_type",
      "CAST(id AS DOUBLE) AS value", "'{}' AS props")
      .coalesce(1).write.mode("overwrite").parquet(path)
    assert(Tables.probeTsStorage(path) === Tables.TsNanosAsLong)

    val loaded = Tables.events(spark, dir.getAbsolutePath)
    assert(loaded.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampType)
    val times = loaded.select(unix_millis(col("ts"))).as[Long](
      org.apache.spark.sql.Encoders.scalaLong).collect().sorted
    assert(times.head === 1704067200000L)
    assert(times.last === 1704067200000L + 2 * 3600 * 1000L)
  }

  test("an empty directory's fallback is not cached: its first part is probed") {
    // a streaming source directory starts empty and later receives parts;
    // the native-micros fallback must not stick to it
    val dir = Files.createTempDirectory("events_late").toFile.getAbsolutePath
    assert(Tables.probeTsStorage(dir) === Tables.TsNativeTimestamp(utcAdjusted = false))
    spark.range(2).selectExpr("id AS event_id", "1704067200000000000L + id AS ts")
      .coalesce(1).write.mode("append").parquet(dir)
    assert(Tables.probeTsStorage(dir) === Tables.TsNanosAsLong)
  }

  test("a missing table's size is not cached: a table written later is sized") {
    val dir = Files.createTempDirectory("bytes_late").toFile.getAbsolutePath
    assert(Tables.tableBytes(spark, dir, "region") == 0L)
    spark.range(3).selectExpr("CAST(id AS INT) AS r_regionkey", "'r' AS r_name")
      .coalesce(1).write.parquet(s"$dir/region.parquet")
    assert(Tables.tableBytes(spark, dir, "region") > 0L)
  }

  test("events ts survives load at sane wall-clock scale (regression tripwire)") {
    val e = Tables.events(spark, sfDir)
      .agg(min(col("ts")).as("lo"), max(col("ts")).as("hi"),
        count(lit(1)).as("n"))
      .selectExpr("unix_millis(lo) AS lo", "unix_millis(hi) AS hi", "n")
      .head()
    val (lo, hi, n) = (e.getLong(0), e.getLong(1), e.getLong(2))
    assert(n > 0)
    // events are synthetic 2024+ data; anything near epoch means a unit
    // mis-read (the failure mode: micros reinterpreted as nanos lands in
    // January 1970)
    assert(lo > 1577836800000L, s"events ts starts before 2020: $lo")
    // the stream spans weeks; a sub-day span means timestamps collapsed
    assert(hi - lo > 86400000L, s"events ts span under one day: ${hi - lo} ms")
  }

  test("orders and lineitem dates survive load at sane wall-clock scale") {
    // same drift class as the events regression: if a testdata regen
    // changes the physical timestamp encoding, the declared read schema
    // would either fail loudly (fine) or silently mis-scale (this check)
    for ((df, c) <- Seq(
      Tables.orders(spark, sfDir) -> "o_orderdate",
      Tables.lineitem(spark, sfDir) -> "l_shipdate")) {
      val r = df.agg(min(col(c)).cast("timestamp").as("lo"),
          max(col(c)).cast("timestamp").as("hi"))
        .selectExpr("unix_millis(lo)", "unix_millis(hi)").head()
      val (lo, hi) = (r.getLong(0), r.getLong(1))
      assert(lo > 631152000000L, s"$c starts before 1990: $lo") // 1990-01-01
      assert(hi < 4102444800000L, s"$c ends after 2100: $hi")
      assert(hi - lo > 86400000L, s"$c span under one day")
    }
  }

  test("streaming eventsStream agrees with the batch loader on ts") {
    val batchFirst = Tables.events(spark, sfDir)
      .select(unix_millis(col("ts")).as("ms")).orderBy("ms").limit(1)
      .head().getLong(0)
    val dir = Files.createTempDirectory("events_stream_probe")
    Files.copy(java.nio.file.Paths.get(s"$sfDir/events.parquet"),
      dir.resolve("events.parquet"))
    val q = graft.streaming.Sessions.eventsStream(spark, dir.toString)
      .select(unix_millis(col("ts")).as("ms"))
      .writeStream.format("memory").queryName("ts_probe")
      .outputMode("append").start()
    try q.processAllAvailable() finally q.stop()
    val streamFirst = spark.table("ts_probe").agg(min(col("ms")))
      .head().getLong(0)
    assert(streamFirst === batchFirst)
  }
}
