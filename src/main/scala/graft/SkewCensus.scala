package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.{Analytics, TextPipeline}
import graft.queries.Qdsl._

/** Guard-fire census for scale/skew drives: one JSON line reporting, for
  * each straggler guard, how much of the given corpus actually crosses
  * its cap — i.e. whether a drive's injected skew makes the guards FIRE
  * rather than merely exist (the r12 judge's ask: record "guard-fire
  * evidence ... actually non-zero on the injected skew").
  *
  *   - span_hot:  16-token window keys over SpanHotCap (the
  *                q_substring_dedup_guarded diversion census)
  *   - lsh_hot:   MinHash band buckets over LshBucketCap (the tombstone
  *                census the dedup index carries)
  *   - pack_hot:  languages over PackHotCap (the r13 packing-cumsum
  *                guard) — plus the max language population, since the
  *                drive cap (100) and the production cap differ
  *   - group_hot: event_types over GroupHotCap (winsorize family) and
  *                the max per-user event count (asof/sessionize/funnel
  *                family caps key on user)
  *   - sem_hot:   SemDeDup trained cells over SemCellCap (the r13
  *                block-decomposed pair-join guard) — runs the actual
  *                ⌈√n⌉+Lloyd quantizer, so this leg costs a real
  *                assignment pass over the embeddings
  *
  * Usage: sbt "runMain graft.SkewCensus /tmp/sf100x"
  * Evidence lands in BENCH_LOCAL round sections; not part of any gate. */
object SkewCensus {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // 16 MB scan splits — single-file drive corpora otherwise scan
      // ~5-wide on 32 threads at 100x volume (see Verify.scala)
      .config("spark.sql.files.maxPartitionBytes", (16L << 20).toString)
      .config("spark.sql.warehouse.dir",
        s"${sys.props("java.io.tmpdir")}/graft_warehouse_census")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      val docs = Tables.documents(spark, dir)

      val d = docs
        .select(col("doc_id"), col("lang"), words(col("text")).as("w"))
        .withColumn("n", size(col("w")))
      val span = TextPipeline.spanHotCensus(d, Seq("lang")).head()

      val lsh = TextPipeline
        .minhashHotCensus(docs, TextPipeline.LshBucketCap)
        .agg(count(lit(1)).as("n_hot"),
          coalesce(sum(col("bucket_n")), lit(0L)).as("tombstoned_rows"),
          coalesce(max(col("bucket_n")), lit(0L)).as("max_bucket")).head()

      val lang = docs.groupBy(col("lang")).agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > TextPipeline.PackHotCap, 1L)
            .otherwise(0L)).as("n_hot"),
          max(col("c")).as("max_lang")).head()

      val ev = Tables.events(spark, dir)
      val grp = ev.groupBy(col("event_type")).agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > Analytics.GroupHotCap, 1L)
            .otherwise(0L)).as("n_hot"),
          max(col("c")).as("max_group")).head()
      val usr = ev.groupBy(col("user_id")).agg(count(lit(1)).as("c"))
        .agg(max(col("c")).as("max_user")).head()

      val sem = graft.queries.Similarity.semAssignedOf(spark, dir)
        .groupBy(col("cell")).agg(count(lit(1)).as("c"))
        .agg(sum(when(col("c") > graft.queries.Similarity.SemCellCap, 1L)
            .otherwise(0L)).as("n_hot"),
          max(col("c")).as("max_cell"),
          count(lit(1)).as("n_cells")).head()

      // the one metrics consumer-visible line: one JSON object
      println(
        s"""{"metric":"skew_census","sf_dir":"$dir"""" +
          s""","span_hot":{"cap":${TextPipeline.SpanHotCap},"n_hot_keys":${span.getLong(0)},"n_hot_rows":${span.getLong(1)},"max_key_rows":${span.getLong(2)}}""" +
          s""","lsh_hot":{"cap":${TextPipeline.LshBucketCap},"n_hot_buckets":${lsh.getLong(0)},"tombstoned_rows":${lsh.getLong(1)},"max_bucket":${lsh.getLong(2)}}""" +
          s""","pack_hot":{"cap":${TextPipeline.PackHotCap},"n_hot_langs":${lang.getLong(0)},"max_lang":${lang.getLong(1)}}""" +
          s""","group_hot":{"cap":${Analytics.GroupHotCap},"n_hot_groups":${grp.getLong(0)},"max_group":${grp.getLong(1)},"max_user":${usr.getLong(0)}}""" +
          s""","sem_hot":{"cap":${graft.queries.Similarity.SemCellCap},"n_hot_cells":${sem.getLong(0)},"max_cell":${sem.getLong(1)},"n_cells":${sem.getLong(2)}}}""")

      // optional layer-attribution profile of the guarded SemDeDup
      // decomposition (SPARK_SEM_PROFILE=1): times the all-hot FORCED
      // variant's layers separately — pair enumeration + cosine filter
      // pre-distinct vs the final distinct — next to the production-cap
      // run, so a drive can say WHICH layer owns the guarded-vs-plain
      // gap (r13 measured 58.5 vs 32.6 s at 100× and could not).
      // The later pair legs ride the warm tracked-persist deliberately
      // (they isolate pair-join machinery); the FIRST leg must not —
      // the census above already materialized semAssignedOf's persisted
      // plan, so without a cache release it would time a cache scan and
      // report the kernel+Lloyd assignment as free.
      if (sys.env.get("SPARK_SEM_PROFILE").contains("1")) {
        val S = graft.queries.Similarity
        def time(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val rows = f
          println(f"[semprofile] $label rows=$rows ${(System.nanoTime() - t0) / 1e9}%.1f s")
        }
        graft.core.Caches.release()
        val assigned = S.semAssignedOf(spark, dir)
        time("assigned (kernel argmin ×2 + Lloyd, cold)")(assigned.count())
        time("forced(20/8) pairs pre-distinct")(
          S.semDroppedRaw(assigned, 0.3, 20L, 8L).count())
        time("forced(20/8) dropped (with distinct)")(
          S.semDroppedOf(assigned, 0.3, 20L, 8L).count())
        time("production(2048/1024) dropped")(
          S.semDroppedOf(assigned, 0.3).count())
      }
    } finally spark.stop()
  }
}
