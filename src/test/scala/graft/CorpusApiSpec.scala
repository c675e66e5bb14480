package graft

import org.apache.spark.sql.functions._

import graft.api.{Corpus, Vectors}

/** The library facade must work on ARBITRARY frames — synthetic data
  * with non-canonical column names, never the driver testdata — proving
  * a user can point the engine at their own tables.
  */
class CorpusApiSpec extends SparkSpec {

  private def docs = {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog and runs away fast"
    Seq(
      (10L, base),
      (11L, base),                                        // exact dup of 10
      (12L, base + " tonight"),                           // near dup of 10
      (13L, "completely different text about spark engines and shuffles here"),
      (14L, "the quick brown fox jumps over the lazy dog and runs away fast " +
        "plus a much longer tail of extra words making the union large " +
        "so plain jaccard similarity stays low while containment is total"),
      (15L, "another unrelated document mentioning warehouses and parquet files")
    ).toDF("my_id", "body")
  }

  test("near-dup pipeline works end-to-end on custom column names") {
    val pairs = Corpus.minhashPairs(docs, id = "my_id", text = "body")
    val strong = pairs.filter(col("n_match") >= 6)
      .select(col("doc_a"), col("doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(strong.contains((10L, 11L)), s"exact dup pair missing: $strong")

    val jac = Corpus.jaccardPairs(docs, id = "my_id", text = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(jac.contains((10L, 11L)) && jac.contains((11L, 12L)))

    // doc 14 swallows doc 10 wholesale: containment-only duplication
    val cont = Corpus.containmentPairs(docs, id = "my_id", text = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cont.contains((10L, 14L)), s"subset pair missing: $cont")
    assert(!jac.contains((10L, 14L)), "the subset pair must NOT be jaccard-strong")
  }

  test("components cluster the dup group, singletons stay themselves") {
    import spark.implicits._
    val pairs = Corpus.jaccardPairs(docs, id = "my_id", text = "body")
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    val nodes = docs.select(col("my_id").as("node"))
    val cc = Corpus.connectedComponents(nodes, pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cc(10L) == 10L && cc(11L) == 10L && cc(12L) == 10L)
    assert(cc(13L) == 13L && cc(15L) == 15L)
    // the star variant labels identically through the same facade
    val star = Corpus.connectedComponents(nodes, pairs, algorithm = "star")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(star == cc, "star and pointer facades disagree")
    intercept[IllegalArgumentException] {
      Corpus.connectedComponents(nodes, pairs, algorithm = "nope")
    }
  }

  test("temporal facades (asof/scd2/funnel) run guarded on custom columns") {
    import spark.implicits._
    // device 5: impression at 10 and 30, conversion at 20 and 40, then
    // an upgrade; device 6 converts BEFORE it ever saw an impression
    val log = Seq(
      (1L, 5L, "impression", 10L), (2L, 5L, "conversion", 20L),
      (3L, 5L, "impression", 30L), (4L, 5L, "conversion", 40L),
      (7L, 5L, "upgrade", 50L),
      (5L, 6L, "conversion", 15L), // no impression before: unmatched
      (6L, 6L, "impression", 20L))
      .toDF("row_id", "device", "action", "at")
    val asof = Corpus.asofJoin(log, key = "device", ts = "at",
      kind = "action", left = "impression", right = "conversion",
      id = "row_id", hotCap = 2L) // device 5 over cap: hot leg
    val got = asof.collect()
      .map(r => r.getLong(0) -> r.getLong(3)).toMap // conv row -> imp row
    assert(got === Map(2L -> 1L, 4L -> 3L))

    val hist = Corpus.scd2(log, key = "device", state = "action",
      ts = "at", id = "row_id", hotCap = 2L)
    val dev5 = hist.filter(col("device") === 5L)
      .orderBy("version").collect()
      .map(r => (r.getInt(1), r.getString(2), r.isNullAt(4)))
    assert(dev5.toSeq === Seq((1, "impression", false),
      (2, "conversion", false), (3, "impression", false),
      (4, "conversion", false), (5, "upgrade", true)))

    val stages = Corpus.funnelStages(log, key = "device", kind = "action",
      ts = "at", id = "row_id",
      stages = Seq("impression", "conversion", "upgrade"), hotCap = 2L)
    // device 5 completes the ordered funnel → 3; device 6's conversion
    // precedes its impression → stage 1 only
    val m = stages.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(m === Map(5L -> 3, 6L -> 1))
    intercept[IllegalArgumentException] {
      Corpus.funnelStages(log, "device", "action", "at", "row_id",
        Seq("impression", "conversion", "conversion"))
    }

    // keys/ids pass through untyped: a STRING device key works unchanged
    val slog = log.withColumn("device", concat(lit("dev-"), col("device")))
    val sasof = Corpus.asofJoin(slog, key = "device", ts = "at",
      kind = "action", left = "impression", right = "conversion",
      id = "row_id", hotCap = 2L)
    assert(sasof.filter(col("device") === "dev-5").count() === 2L)
    val sstage = Corpus.funnelStages(slog, key = "device", kind = "action",
      ts = "at", id = "row_id",
      stages = Seq("impression", "conversion", "upgrade"), hotCap = 2L)
    assert(sstage.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
      === Map("dev-5" -> 3, "dev-6" -> 1))

    // sessionize with a custom 100ms gap: device 5's events at
    // 10/20/30/40/50 form one session; device 6's 15 and 20 another
    val sess = Corpus.sessionize(log, key = "device", ts = "at",
      value = "at", gapMs = 100L, hotCap = 2L)
    val byDev = sess.collect().map(r => (r.getLong(0), r.getLong(3))).toMap
    assert(byDev === Map(5L -> 5L, 6L -> 2L))
    // a 1000ms-later event opens a second session for device 6
    val sess2 = Corpus.sessionize(log.union(
      Seq((9L, 6L, "impression", 2000L)).toDF("row_id", "device", "action", "at")),
      key = "device", ts = "at", value = "at", gapMs = 100L, hotCap = 2L)
    assert(sess2.filter(col("device") === 6L).count() === 2L)

    // N = 4: an extra renewal stage after upgrade — device 5 stops at 3
    val log4 = log.union(Seq((8L, 6L, "renewal", 30L))
      .toDF("row_id", "device", "action", "at"))
    val s4 = Corpus.funnelStages(log4, key = "device", kind = "action",
      ts = "at", id = "row_id",
      stages = Seq("impression", "conversion", "upgrade", "renewal"),
      hotCap = 2L)
    val m4 = s4.collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // device 6's renewal is premature (no upgrade yet): still stage 1
    assert(m4 === Map(5L -> 3, 6L -> 1))
  }

  test("exact dedup keeps exactly the first row per key") {
    val kept = Corpus.exactDedup(docs, Seq("body"), "my_id")
    assert(kept.count() == 5)
    assert(kept.filter(col("my_id") === 11L).count() == 0)
    assert(kept.filter(col("my_id") === 10L).count() == 1)
    // raw-key form agrees
    val raw = Corpus.exactDedup(docs, Seq("body"), "my_id", hashKey = false)
    assert(raw.orderBy("my_id").collect().map(_.toSeq).toSeq ===
      kept.orderBy("my_id").collect().map(_.toSeq).toSeq)
  }

  test("exact dedup hash key is injective over NULLs and separators") {
    import spark.implicits._
    // every row below has a DISTINCT key tuple: none may collapse
    val tricky = Seq(
      (1L, Option("x"), Option.empty[String]),   // ("x", null)
      (2L, Option.empty[String], Option("x")),   // (null, "x")
      (3L, Option(""), Option("x")),             // ("", "x") vs (null,"x")
      (4L, Option("p\u0000q"), Option("r")),     // in-band separator
      (5L, Option("p"), Option("q\u0000r")),
      (6L, Option("1:a"), Option("b")),          // length-prefix lookalike
      (7L, Option("1"), Option(":ab")))
      .toDF("id", "a", "b")
    val kept = Corpus.exactDedup(tricky, Seq("a", "b"), "id")
    assert(kept.count() === 7L, "distinct key tuples collapsed under hashing")
    // and true duplicates (including a NULL-keyed pair) still dedup
    val dup = tricky.union(tricky.withColumn("id", col("id") + 100L))
    assert(Corpus.exactDedup(dup, Seq("a", "b"), "id").count() === 7L)
    assert(Corpus.exactDedup(dup, Seq("a", "b"), "id")
      .agg(max(col("id"))).head().getLong(0) === 7L) // keep-first
  }

  test("exact dedup exchanges a 16-byte digest, never the document") {
    // 100 kB documents: the default hash key keeps the window's
    // partition/sort key at 16 bytes regardless of text size
    val big = spark.range(6).select(col("id"),
      concat(lit("x" * 100000), (col("id") % 3).cast("string")).as("t"))
    val kept = Corpus.exactDedup(big, Seq("t"), "id")
    assert(kept.count() == 3)
    assert(kept.select(min(col("id")), max(col("id"))).head().toSeq ===
      Seq(0L, 2L))
    // the exchanged key expression itself is a fixed-width 16-byte binary
    val keyWidth = big
      .select(unhex(md5(concat_ws("\u0000", col("t").cast("string"))))
        .as("__k"))
      .agg(max(octet_length(col("__k"))), min(octet_length(col("__k"))))
      .head()
    assert(keyWidth.getInt(0) === 16 && keyWidth.getInt(1) === 16)
    // and the plan partitions the window on __k, not on the text column
    val plan = Corpus.exactDedup(big, Seq("t"), "id")
      .queryExecution.executedPlan.toString
    assert(plan.contains("__k"))
  }

  test("chunking covers every token with the configured overlap") {
    val ch = Corpus.chunk(docs, id = "my_id", text = "body",
      window = 8, stride = 6).persist()
    try {
      // a 13-token doc at window 8 / stride 6 → starts 1, 7, 13 → 3 chunks
      assert(ch.filter(col("doc_id") === 10L).count() == 3)
      val toks = ch.filter(col("doc_id") === 10L)
        .agg(sum(col("n_tokens"))).head().getLong(0)
      // 8 + 7 + 1: full window, tail of 7, tail of 1 — overlap counted
      assert(toks == 16, s"expected 16 token slots, got $toks")
      assert(ch.filter(col("chunk_idx") === 0 && col("doc_id") === 10L)
        .head().getAs[String]("chunk").startsWith("the quick brown"))
    } finally ch.unpersist()
  }

  test("scalar helpers: language id and quality signals on any frame") {
    import spark.implicits._
    val df = Seq(
      ("the cat sat on the mat", "en"),
      ("der hund und die katze", "de"),
      ("xyzzy plugh", "und")
    ).toDF("t", "want")
    assert(df.filter(Corpus.languageId(col("t")) =!= col("want")).count() == 0)
    val q = df.select(Corpus.qualitySignals(col("t")).as("q"))
      .select(col("q.n_tokens"), col("q.n_distinct"), col("q.stopword_per_mille"))
      .collect()
    assert(q.head.getLong(0) == 6 && q.head.getLong(1) == 5)
    assert(q.head.getLong(2) == 333) // 2 of 6 stopwords -> 333 per-mille
  }

  test("cosine top-k ranks the duplicate vector first") {
    import spark.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),
      (2L, Array(0.9f, 0.1f, 0.0f)),
      (3L, Array(0.0f, 1.0f, 0.0f)),
      (4L, Array(1.0f, 0.0f, 0.001f))
    ).toDF("vid", "emb")
    val out = Vectors.cosineTopK(vecs, vecs.filter(col("vid") === 1L),
      k = 2, id = "vid", vec = "emb")
    val ranked = out.orderBy(col("rank"))
      .collect().map(_.getAs[Long]("neighbor_id")).toSeq
    assert(ranked == Seq(4L, 2L), s"expected nearest 4 then 2, got $ranked")
  }

  test("bm25 facade scores only matching docs, higher tf wins at equal length") {
    import spark.implicits._
    val docs = Seq(
      (1L, "apple banana cherry date elder fig"),
      (2L, "apple apple apple banana cherry date"),
      (3L, "grape kiwi lemon mango nectar olive")
    ).toDF("id", "body")
    val out = Corpus.bm25(docs, Seq("apple"), id = "id", text = "body")
      .collect()
    assert(out.map(_.getAs[Long]("id")).toSet == Set(1L, 2L))
    val byId = out.map(r => r.getAs[Long]("id") -> r.getAs[Double]("score")).toMap
    // same length (6 tokens each), tf 3 vs 1 -> doc 2 scores higher
    assert(byId(2L) > byId(1L))
    assert(byId.values.forall(_ > 0))
  }

  test("weighted sample is deterministic and respects 0/1000 extremes") {
    import spark.implicits._
    val df = (1L to 200L).toDF("doc_id").withColumn("w",
      when(col("doc_id") <= 100, 0L).otherwise(1000L))
    val kept = Corpus.weightedSample(df, col("w"))
    // weight 0 -> never kept; weight 1000 -> always kept
    assert(kept.filter(col("doc_id") <= 100).count() == 0)
    assert(kept.filter(col("doc_id") > 100).count() == 100)
    // deterministic: the same call twice draws the same sample
    val again = Corpus.weightedSample(df, col("w"))
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
  }

  test("temperature sampling flattens groups and keeps the smallest whole") {
    import spark.implicits._
    // 400 docs in lang a, 4 in lang b: sqrt-flattening keeps b whole
    // (rate 1000‰) and samples a at ~sqrt(4/400) = 100‰
    val df = ((1L to 400L).map(i => (i, "a")) ++
      (1001L to 1004L).map(i => (i, "b"))).toDF("my_id", "group_col")
    val kept = Corpus.temperatureSample(df, group = "group_col", id = "my_id")
    assert(kept.filter(col("group_col") === "b").count() == 4,
      "smallest group must be kept whole")
    val keptA = kept.filter(col("group_col") === "a").count()
    // derandomized hash draw at 100 per-mille over 400 ids: around 40,
    // generous band for hash dispersion
    assert(keptA >= 15 && keptA <= 75, s"flattened keep-count off: $keptA")
    // deterministic: same call, same sample
    val again = Corpus.temperatureSample(df, group = "group_col", id = "my_id")
    assert(kept.exceptAll(again).isEmpty && again.exceptAll(kept).isEmpty)
    // schema passthrough: no helper columns leak
    assert(kept.columns.toSeq == df.columns.toSeq)
  }

  test("rrf fusion stacks towers and respects per-list depth") {
    import spark.implicits._
    val lex = Seq((1L, 100L, 1L), (1L, 101L, 2L), (1L, 102L, 3L))
      .toDF("q", "cand", "r")
    val sem = Seq((1L, 101L, 1L), (1L, 103L, 2L))
      .toDF("q", "cand", "r")
    val fused = Corpus.rrfFuse(Seq(lex, sem),
      query = "q", id = "cand", rank = "r", k = 60, topK = 10)
      .collect().map(row => row.getAs[Long]("cand") ->
        (row.getAs[Long]("fused_rank"), row.getAs[Long]("n_lists"))).toMap
    // 101 appears in both lists (1/62 + 1/61) and must outrank 100 (1/61)
    assert(fused(101L)._1 == 1L && fused(101L)._2 == 2L)
    assert(fused(100L)._1 == 2L && fused(100L)._2 == 1L)
    assert(fused.keySet == Set(100L, 101L, 102L, 103L))
  }

  private def nearDupVecs = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 0.0f, 0.0f)),   // seed cell A
      (2L, Array(0.0f, 1.0f, 0.0f)),   // seed cell B
      (3L, Array(0.999f, 0.001f, 0.0f)), // near-dup of 1 -> dropped
      (4L, Array(0.0f, 0.98f, 0.2f)),  // near 2 but distinct direction
      (5L, Array(0.0f, 0.999f, 0.001f)) // near-dup of 2 -> dropped
    ).toDF("vid", "emb")
  }

  /** 96 well-spread vectors + 4 exact duplicates, ids nowhere near
    * dense-from-0 (the hash-threshold seeding must not assume density). */
  private def sparseVecs = {
    import spark.implicits._
    val base = (0 until 96).map { i =>
      (5000L + 7L * i,
        Array(math.cos(i * 0.39).toFloat, math.sin(i * 0.39).toFloat,
          (i % 7).toFloat, (i % 11).toFloat))
    }
    val dups = Seq(0, 13, 26, 39).map(i =>
      (9000L + i, base(i)._2.clone()))
    (base ++ dups).toDF("vid", "emb")
  }

  test("semDedup drops the later of two near-identical vectors only") {
    val vecs = nearDupVecs
    val out = Vectors.semDedup(vecs, k = 2, tau = 0.999,
      id = "vid", vec = "emb").persist()
    try {
      assert(out.count() == 5) // one row per vector
      val droppedIds = out.filter(col("is_dropped"))
        .collect().map(_.getAs[Long]("vid")).toSet
      assert(droppedIds == Set(3L, 5L),
        s"expected drops {3,5}, got $droppedIds")
      // survivors keep one representative per near-dup direction
      assert(out.filter(!col("is_dropped")).count() == 3)
    } finally out.unpersist()
  }

  test("semDedup default trains ⌈√n⌉ cells and works on sparse ids") {
    val vecs = sparseVecs
    val out = Vectors.semDedup(vecs, tau = 0.9999, id = "vid", vec = "emb")
      .persist()
    try {
      assert(out.count() == 100) // one row per vector
      // an exact duplicate always shares its original's cell (identical
      // argmin input), and 9000+i > 5000+7i, so all four must drop
      val dropped = out.filter(col("is_dropped"))
        .collect().map(_.getAs[Long]("vid")).toSet
      assert(Set(9000L, 9013L, 9026L, 9039L).subsetOf(dropped),
        s"exact dups must be dropped, got $dropped")
      // originals survive (keep-first canonicalization)
      assert(out.filter(!col("is_dropped"))
        .filter(col("vid").isin(5000L, 5091L, 5182L, 5273L)).count() == 4)
      // the quantizer really is multi-cell (expected ⌈√100⌉ = 10 seeds;
      // the draw is hash-thresholded, so allow dispersion but not
      // collapse to a single brute-force cell)
      val nCells = out.select(col("cell")).distinct().count()
      assert(nCells >= 2 && nCells <= 30, s"cell count off: $nCells")
    } finally {
      out.unpersist()
      graft.core.Caches.release()
    }
  }

  /** The reference dropped set: one plain self-join per cell of `out`,
    * no hot-cell guard — the pair scan `Vectors.semDedup` ran before it
    * shared q_semdedup's. */
  private def pairScanDropped(out: org.apache.spark.sql.DataFrame,
      vecs: org.apache.spark.sql.DataFrame, tau: Double): Set[Long] = {
    val a = graft.queries.Similarity.canonical(vecs, "vid", "emb")
      .join(out.select(col("vid"), col("cell")), "vid")
    val cos = graft.functions.GraftDot(col("av"), col("bv")).cast("double") /
      sqrt(col("an2").cast("double")) / sqrt(col("bn2").cast("double"))
    a.select(col("cell"), col("vid").as("avid"), col("v").as("av"),
        col("n2").as("an2"))
      .join(a.select(col("cell"), col("vid").as("bvid"), col("v").as("bv"),
        col("n2").as("bn2")), "cell")
      .filter(col("avid") < col("bvid") && cos >= tau)
      .select(col("bvid")).distinct()
      .collect().map(_.getLong(0)).toSet
  }

  test("semDedup's guarded pair scan equals the plain per-cell self-join, hot cell included") {
    import spark.implicits._
    // k = 1 puts all 2,100 vectors in one cell, over SemCellCap, so the
    // block-decomposed hot path runs; 60 planted near-dups (each a
    // spread vector scaled per dimension by 1 ± 1e-4) carry higher ids
    val rnd = new scala.util.Random(7)
    val spread = (0 until 2040).map(i =>
      (100L + 3L * i, Array.fill(8)(rnd.nextGaussian().toFloat)))
    val planted = (0 until 60).map(j => (20000L + j,
      spread(j * 31)._2.map(x => x * (1.0f + 1e-4f * rnd.nextGaussian().toFloat))))
    val hot = (spread ++ planted).toDF("vid", "emb")
    assert(spread.size + planted.size > graft.queries.Similarity.SemCellCap)
    Seq(("near-dup", nearDupVecs, 2, 0.999), ("sparse", sparseVecs, 0, 0.9999),
        ("hot cell", hot, 1, 0.999)).foreach { case (name, vecs, k, tau) =>
      val out = Vectors.semDedup(vecs, k = k, tau = tau, id = "vid",
        vec = "emb").persist()
      try {
        val got = out.filter(col("is_dropped"))
          .collect().map(_.getAs[Long]("vid")).toSet
        assert(got == pairScanDropped(out, vecs, tau),
          s"$name: guarded drops differ from the plain pair scan")
        if (name == "hot cell") {
          assert(out.select(col("cell")).distinct().count() == 1)
          assert(planted.map(_._1).toSet.subsetOf(got),
            s"planted near-dups must drop, got ${got.size} drops")
        }
      } finally {
        out.unpersist()
        graft.core.Caches.release()
      }
    }
  }

  test("rrfFuse collapses duplicate (query,id) rows within one list") {
    import spark.implicits._
    // 100 appears twice in lex (ranks 1 and 3): one contribution, best
    // rank; n_lists counts LISTS, not rows
    val lex = Seq((1L, 100L, 1L), (1L, 100L, 3L), (1L, 101L, 2L))
      .toDF("q", "cand", "r")
    val sem = Seq((1L, 101L, 1L)).toDF("q", "cand", "r")
    val fused = Corpus.rrfFuse(Seq(lex, sem),
      query = "q", id = "cand", rank = "r", k = 60, topK = 10)
      .collect().map(row => row.getAs[Long]("cand") ->
        (row.getAs[Double]("rrf"), row.getAs[Long]("n_lists"))).toMap
    assert(fused(100L)._2 == 1L, "duplicate rows must not inflate n_lists")
    assert(fused(100L)._1 == 1.0 / 61, "best in-list rank must win")
    assert(fused(101L)._2 == 2L && fused(101L)._1 == 1.0 / 61 + 1.0 / 62)
  }

  test("temperatureSample treats NULL group as its own stratum") {
    import spark.implicits._
    // 400 docs in lang a, 4 with a NULL lang: the null stratum is the
    // smallest -> kept whole; an inner join would have dropped it
    val df = ((1L to 400L).map(i => (i, Option("a"))) ++
      (1001L to 1004L).map(i => (i, Option.empty[String])))
      .toDF("my_id", "group_col")
    val kept = Corpus.temperatureSample(df, group = "group_col", id = "my_id")
    assert(kept.filter(col("group_col").isNull).count() == 4,
      "null-group rows must be sampled, not silently dropped")
    assert(kept.columns.toSeq == df.columns.toSeq)
  }

  test("classifierLogit matches the registered query's model per doc") {
    import spark.implicits._
    import graft.queries.Qdsl
    val scored = Corpus.classifierLogit(docs, id = "my_id", text = "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2)))
      .toMap
    assert(scored.size == 6)
    // byte-identical docs 10/11 score identically
    assert(scored(10L) == scored(11L))
    assert(scored.values.forall { case (lg, keep) => keep == (lg > 0) })
    // the model IS the query's model: recompute one logit through the
    // shared expression the query uses
    val expect = docs.filter(col("my_id") === 13L)
      .select(Qdsl.hashedLogit(Qdsl.words(col("body")))).head().getLong(0)
    assert(scored(13L)._1 == expect)
  }

  test("substringSpans reports the planted shared run with interval union") {
    import spark.implicits._
    val s = (1 to 20).map(i => f"s$i%02d").mkString(" ")
    val df = Seq(
      (21L, s"a1 a2 a3 a4 a5 $s b1 b2 b3 b4 b5"),
      (22L, s"c1 c2 c3 c4 c5 $s d1 d2 d3 d4 d5"),
      (23L, (1 to 25).map(i => f"u$i%02d").mkString(" "))
    ).toDF("my_id", "body")
    val got = Corpus.substringSpans(df, id = "my_id", text = "body")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // 5 recurring window starts inside the 20-token shared run; union 20
    assert(got == Map(21L -> (5L, 20L), 22L -> (5L, 20L)), s"got $got")
  }

  test("boilerplate facade surfaces the recurring block on custom names") {
    import spark.implicits._
    val block = (1 to 16).map(i => f"bp$i%02d").mkString(" ")
    val df = Seq(
      (31L, s"$block tail1 tail2"),
      (32L, s"head1 head2 $block"),
      (33L, (1 to 20).map(i => f"q$i%02d").mkString(" "))
    ).toDF("my_id", "body")
    val rows = Corpus.boilerplate(df, id = "my_id", text = "body", topK = 5)
      .collect()
    assert(rows.length == 1, s"only the planted block recurs: ${rows.toSeq}")
    assert(rows.head.getAs[Long]("n_occ") == 2L)
    assert(rows.head.getAs[Long]("first_my_id") == 31L)
  }

  test("shardManifest facade: offsets replay exactly, shards parameterized") {
    import spark.implicits._
    val df = (1L to 200L).map(i => (i, s"tok${i} x y z")).toDF("my_id", "body")
    val rows = Corpus.shardManifest(df, id = "my_id", text = "body",
        shards = 8).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(rows.length == 200 && rows.map(_._2).distinct.forall(s => s >= 0 && s < 8))
    // within every shard, offsets are the exclusive prefix sums of token
    // counts in (hash, id) order — replay on the driver
    rows.groupBy(_._2).foreach { case (_, shard) =>
      // order by offset is the shard order; check prefix-sum identity
      val ordered = shard.sortBy(_._4)
      val expect = ordered.map(_._3).scanLeft(0L)(_ + _).init
      assert(ordered.map(_._4).toSeq == expect.toSeq,
        s"offsets are not an exclusive prefix sum: $ordered")
    }
  }

  test("dedupRewrite facade: exact dup vanishes, novel tail survives in order") {
    val out = Corpus.dedupRewrite(docs, id = "my_id", text = "body")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    // doc 11 is chunk-for-chunk identical to doc 10 -> nothing survives
    assert(!out.contains(11L), s"exact dup doc survived: $out")
    // doc 10 is first -> rebuilt verbatim
    assert(out(10L) ==
      "the quick brown fox jumps over the lazy dog and runs away fast")
    // doc 12 shares chunk 0 with doc 10; its tail chunk differs and stays
    assert(out(12L) == "runs away fast tonight", s"got: ${out.get(12L)}")
    assert(out.contains(13L) && out.contains(15L))
  }

  test("perplexityBuckets facade: quantiles are balanced and score-monotone") {
    val rows = Corpus.perplexityBuckets(docs, id = "my_id", text = "body",
        k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.length == 6)
    val sizes = rows.groupBy(_._3).view.mapValues(_.size).values.toSeq
    assert(sizes.max - sizes.min <= 1, s"unbalanced halves: $sizes")
    // bucket is non-decreasing along the (score, id) order
    val ordered = rows.sortBy(r => (r._2, r._1)).map(_._3)
    assert(ordered.sliding(2).forall { case Array(a, b) => a <= b; case _ => true })
  }

  test("dsirWeights facade: target-like documents weigh more") {
    val w = Corpus.dsirWeights(docs, isTarget = col("my_id") <= 12,
        id = "my_id", text = "body")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(w.size == 6)
    // doc 14 embeds the target text wholesale; doc 15 shares nothing
    assert(w(14L) > w(15L), s"target affinity not reflected: $w")
    assert(w(10L) > w(13L), s"pure target below unrelated: $w")
  }

  test("Vectors.project facade: matrix-reproducible 16-dim integer output") {
    import spark.implicits._
    val vec = (0 until 64).map(i => 0.001f * i)
    val df = Seq((7L, vec), (8L, vec.map(x => -x))).toDF("vid_x", "emb")
    val got = Vectors.project(df, id = "vid_x", vec = "emb")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val signs = Array.tabulate(16, 64)((j, i) =>
      if (graft.functions.GraftHash60.hash(s"${j}_${i}".getBytes("UTF-8")) % 2 == 0) 1L
      else -1L)
    val iv = vec.map(x => math.floor(x.toDouble * 1000).toLong)
    val expect = signs.map(row => row.zip(iv).map {
      case (s, v) => s * v
    }.sum).toSeq
    assert(got(7L) == expect, s"projection drifted: ${got(7L)} vs $expect")
    assert(got(7L).size == 16)
    // negated input: floor(-x*1000) = -i except at exact integers -> check
    // antisymmetry only at dim sums of exactly-representable coords
    assert(got(8L).size == 16)
  }

  // 4 clusters x 10 members of 64-dim vectors; queries sit at each
  // cluster's base pattern, so true neighbors are cluster-mates
  private def vecFrames = {
    import spark.implicits._
    def base(c: Int, i: Int): Float = (((c + 1) * (i + 3)) % 7 - 3).toFloat / 10f
    val members = for (c <- 0 until 4; j <- 0 until 10) yield
      (c * 10L + j, (0 until 64).map(i =>
        base(c, i) + 0.005f * ((i + j) % 3)))
    val queries = (0 until 4).map(c =>
      (100L + c, (0 until 64).map(i => base(c, i))))
    (members.toDF("my_vid", "emb"), queries.toDF("my_vid", "emb"))
  }

  test("excludeSelf = false keeps a colliding-id true neighbor (independent query ids)") {
    import spark.implicits._
    val (vectors, _) = vecFrames
    // a query frame with its OWN id sequence: id 5 coincidentally equals
    // a base id, and base vector 0 is its true nearest (cluster 0 base
    // pattern). Under the shared-id default the self-exclusion would be
    // wrong here — excludeSelf = false is the independent-id contract.
    // the query IS member 5's vector (exact duplicate, guaranteed rank-1
    // cosine), under an independent id that happens to collide with it
    def mem5(i: Int): Float =
      (((0 + 1) * (i + 3)) % 7 - 3).toFloat / 10f + 0.005f * ((i + 5) % 3)
    val q = Seq((5L, (0 until 64).map(mem5))).toDF("my_vid", "emb")
    val withFlag = Vectors.ivfTopK(vectors, q, k = 3, cells = 8, nprobe = 8,
        id = "my_vid", vec = "emb", excludeSelf = false)
      .collect().map(_.getLong(2)).toSet
    val without = Vectors.ivfTopK(vectors, q, k = 3, cells = 8, nprobe = 8,
        id = "my_vid", vec = "emb")
      .collect().map(_.getLong(2)).toSet
    graft.core.Caches.release()
    // base id 5 is cluster 0's member j=5 — a genuine near neighbor of
    // the cluster-0 query; the default silently drops it
    assert(withFlag.contains(5L), s"flagged search lost the colliding id: $withFlag")
    assert(!without.contains(5L), s"default kept the colliding id: $without")
    // both searches return full top-3 and differ ONLY in the collision
    // row plus the one displaced tail neighbor
    assert(withFlag.size == 3 && without.size == 3)
    assert((withFlag - 5L).subsetOf(without),
      s"flag perturbed non-collision rows: $withFlag vs $without")
    assert((without -- withFlag).size == 1,
      s"more than the displaced tail differs: $withFlag vs $without")
    // ground truth via cosineTopK honors the same flag (so an ndcgAtK
    // truth/result pair can be built consistently for independent ids)
    val truthFlag = Vectors.cosineTopK(vectors, q, k = 3,
        id = "my_vid", vec = "emb", excludeSelf = false)
      .collect().map(_.getLong(2)).toSet
    assert(truthFlag.contains(5L), s"cosineTopK flag lost the collision: $truthFlag")
  }

  test("bpeMerges learns the obvious rules on a planted vocabulary") {
    import spark.implicits._
    // 'abab' x3: round 1 merges the dominant pair 'a b' (6 weighted
    // occurrences vs 3 for 'b a') EXHAUSTIVELY -> ' ab ab ', whose only
    // pair 'ab ab' is round 2's merge — the shared-separator case the
    // bounded-pass application exists for
    val df = Seq((1L, "abab abab abab")).toDF("k", "body")
    val rules = Corpus.bpeMerges(df, id = "k", text = "body", rounds = 2)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    graft.core.Caches.release()
    assert(rules.toSeq == Seq((1L, "a b", 6L), (2L, "ab ab", 3L)),
      s"rule sequence drifted: ${rules.toSeq}")
  }

  test("dedupRewrite is exact past 1024 chunks per document") {
    import spark.implicits._
    // 1500 single-token chunks: an arithmetic doc_id*1024+pos keep-first
    // key would alias (doc 0, pos 1030) with (doc 1, pos 6) — the
    // lexicographic struct key must not
    val longDoc = (0 until 1500).map(i => s"t${i % 700}").mkString(" ")
    val shortDoc = (0 until 40).map(i => s"t${i % 700}").mkString(" ")
    val df = Seq((0L, longDoc), (1L, shortDoc)).toDF("my_id", "body")
    val got = Corpus.dedupRewrite(df, id = "my_id", text = "body",
        chunkTokens = 1).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.core.Caches.release()
    // replay: keep-first over (doc, pos) lexicographic order
    val docs = Seq(0L -> longDoc.split(" ").toSeq, 1L -> shortDoc.split(" ").toSeq)
    val chunks = docs.flatMap { case (id, ws) =>
      ws.zipWithIndex.map { case (c, pos) => (id, pos.toLong, c) }
    }
    val firstOcc = chunks.groupBy(_._3).map { case (c, occ) =>
      c -> occ.map(o => (o._1, o._2)).min
    }
    val expect = chunks.filter(c => (c._1, c._2) == firstOcc(c._3))
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(got == expect, s"long-doc keep-first drifted: $got vs $expect")
    // doc 0 owns every first occurrence; doc 1 must vanish entirely
    assert(!got.contains(1L) && got(0L) == 700L)
  }

  test("bpeMerges survives rounds past the learnable merges") {
    import spark.implicits._
    val df = Seq((1L, "abab abab abab")).toDF("k", "body")
    val rules = Corpus.bpeMerges(df, id = "k", text = "body", rounds = 5)
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getString(1)))
    graft.core.Caches.release()
    // exactly two merges exist; exhausted rounds emit no rules instead
    // of wiping the vocabulary and truncating silently mid-stream
    assert(rules.toSeq == Seq((1L, "a b"), (2L, "ab ab")),
      s"exhausted rounds corrupted the rule table: ${rules.toSeq}")
  }

  test("assignSplits keeps near-dup clusters together") {
    val got = Corpus.assignSplits(docs, id = "my_id", text = "body")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    graft.core.Caches.release()
    assert(got.keySet == Set(10L, 11L, 12L, 13L, 14L, 15L))
    assert(got.values.forall(s => s >= 0 && s <= 2))
    // the dup cluster {10, 11, 12} travels as one unit
    assert(got(10L) == got(11L) && got(11L) == got(12L),
      s"dup cluster split apart: $got")
  }

  test("lshTopK with bits=0 IS exact brute-force search") {
    val (vectors, queries) = vecFrames
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val exact = rows(Vectors.cosineTopK(vectors, queries, k = 5,
      id = "my_vid", vec = "emb"))
    // default bucketCap is unbounded — at bits=0 every vector shares
    // bucket 0, and a finite default would silently empty the results
    val degenerate = rows(Vectors.lshTopK(vectors, queries, k = 5,
      bits = 0, tables = 1, hamming = 0, id = "my_vid", vec = "emb"))
    graft.core.Caches.release()
    assert(degenerate == exact,
      s"bits=0 index diverged from brute force:\n $degenerate\n vs $exact")
  }

  test("pqTopK compresses and still finds cluster-mates for covered clusters") {
    val (vectors, queries) = vecFrames
    val rows = Vectors.pqTopK(vectors, queries, k = 3,
        id = "my_vid", vec = "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    graft.core.Caches.release()
    val byQ = rows.groupBy(_._1)
    assert(byQ.keySet == Set(100L, 101L, 102L, 103L))
    byQ.foreach { case (q, rs) =>
      assert(rs.map(_._2).sorted.toSeq == (1L to rs.length), s"ranks for $q")
    }
    // clusters 0 and 1 supply the 16 codebook pivots, so their queries
    // quantize cleanly: the top-1 neighbor is a cluster-mate
    Seq(100L, 101L).foreach { q =>
      val top1 = byQ(q).minBy(_._2)._3
      assert(top1 / 10 == q - 100, s"query $q top-1 $top1 left its cluster")
    }
  }

  test("minhashIndex + dedupAgainstIndex: build/serve legs on foreign columns") {
    // history holds the dup cluster; the batch re-sends one exact copy,
    // one near copy, and one novel doc — the daily-increment shape
    val history = docs.filter(col("my_id") <= 13)
    import spark.implicits._
    val batch = Seq(
      (20L, "the quick brown fox jumps over the lazy dog and runs away fast"),
      (21L, "the quick brown fox jumps over the lazy dog and runs away slow"),
      (22L, "nothing in history resembles this freshly crawled sentence at all")
    ).toDF("my_id", "body")
    val idx = Corpus.minhashIndex(history, id = "my_id", text = "body")
    val pairs = Corpus.dedupAgainstIndex(idx, batch, id = "my_id", text = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    graft.core.Caches.release()
    // exact copy agrees on all 8 mins with every exact-dup history doc
    assert(pairs.get((10L, 20L)).contains(8L), s"exact dup not found: $pairs")
    assert(pairs.get((11L, 20L)).contains(8L))
    // near copy surfaces (agreement may saturate at 8: a single changed
    // shingle only lowers a min it happens to own), novel doc not at all
    assert(pairs.contains((10L, 21L)), s"near dup not found: $pairs")
    assert(!pairs.keys.exists(_._2 == 22L), s"novel doc flagged: $pairs")
    // serve only ever pairs index docs with batch docs
    assert(pairs.keys.forall { case (a, b) => a <= 13L && b >= 20L })
  }

  test("dedupKeepBest facade: one survivor per cluster, best logit wins") {
    val rows = Corpus.dedupKeepBest(docs, id = "my_id", text = "body")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        r.getLong(3)))
    graft.core.Caches.release()
    assert(rows.length == 6, "every document decided once")
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (c, members) =>
      assert(members.count(_._3) == 1, s"cluster $c: not exactly one kept")
      val kept = members.find(_._3).get
      // the survivor's logit is maximal (ties broken by lower id)
      members.foreach { m =>
        assert(m._4 < kept._4 || (m._4 == kept._4 && m._1 >= kept._1),
          s"cluster $c: member $m beats survivor $kept")
      }
    }
    // the 10/11 exact-dup pair must actually share a cluster
    val c10 = rows.find(_._1 == 10L).get._2
    assert(rows.find(_._1 == 11L).get._2 == c10, "exact dups not clustered")
  }

  test("winsorize facade: exact bounds and clipped sum on 1..20") {
    import spark.implicits._
    val df = (1 to 20).map(i => ("g", i.toLong, i.toDouble))
      .toDF("bucket", "row", "metric")
    val r = Corpus.winsorize(df, group = "bucket", value = "metric",
      id = "row").collect().head
    // n=20: lo rank ceil(20/20)=1 -> 1.0, hi rank ceil(380/20)=19 -> 19.0;
    // only the value 20 clips (to 19): sum = 1..19 + 19 = 209
    assert(r.getString(0) == "g")
    assert(r.getLong(1) == 20L)
    assert((r.getLong(2), r.getLong(3)) == ((0L, 1L)), r.toString)
    assert(r.getDouble(4) == 209.0, r.toString)
    assert((r.getDouble(5), r.getDouble(6)) == ((1.0, 19.0)))
  }

  test("keySkewCensus: planted hot key ranks first with the exact factor") {
    import spark.implicits._
    // 60 rows of one key, 40 singletons: 41 keys, 100 rows
    val df = ((1 to 60).map(i => ("hot", i)) ++
      (1 to 40).map(i => (s"k$i", 100 + i))).toDF("the_key", "payload")
    val rows = Corpus.keySkewCensus(df, key = "the_key", topK = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    graft.core.Caches.release()
    assert(rows.length == 3)
    // hot: 60 rows, 600 per-mille, factor ceil(60*41/100) = 25
    assert(rows.head == ((1L, "hot", 60L, 600L, 25L)), rows.head.toString)
    // singleton: 1 row, 10 per-mille, factor ceil(41/100) = 1
    assert(rows(1)._3 == 1L && rows(1)._5 == 1L)
  }

  test("driftCensus: per-mille shares and deltas exact on a planted shift") {
    import spark.implicits._
    val hist = Seq((1L, "en", "the cat sat here"), (2L, "en", "the dog ran out"),
      (3L, "de", "der hund und katze"), (4L, "de", "der ball und tor"))
      .toDF("id", "language", "body")
    val batch = Seq((11L, "en", "the bird flew"), (12L, "en", "the fish swam"),
      (13L, "en", "the cow ate"), (14L, "de", "der wolf lief"))
      .toDF("id", "language", "body")
    val rows = graft.api.Corpus
      .driftCensus(hist, batch, group = "language", text = "body")
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5))))
      .toMap
    // hist: 2/2 of 4 → 500‰ each; batch: 3/1 of 4 → 750‰/250‰
    assert(rows("en") == ((2L, 3L, 500L, 750L, 250L)), s"en row: ${rows("en")}")
    assert(rows("de") == ((2L, 1L, 500L, 250L, -250L)), s"de row: ${rows("de")}")
  }

  test("ivfDriftCensus: planted drift shows up as arriving distance mass") {
    val (vectors, _) = vecFrames
    import spark.implicits._
    // arriving vectors sit far from every resident cluster: each cell's
    // arriving mean distance must dwarf its resident mean
    val far = (0 until 6).map(i =>
      (500L + i, (0 until 64).map(d => 3.0f + 0.01f * ((d + i) % 5))))
      .toDF("my_vid", "emb")
    val rows = Vectors.ivfDriftCensus(vectors, far, cells = 4,
        id = "my_vid", vec = "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    graft.core.Caches.release()
    assert(rows.map(_._2).sum == 40L, "every resident assigned once")
    assert(rows.map(_._3).sum == 6L, "every arriving vector assigned once")
    val drifted = rows.filter(_._3 > 0)
    assert(drifted.nonEmpty)
    drifted.foreach { case (cell, nr, na, rd, ad) =>
      assert(ad / na > (rd.toDouble / nr) * 5,
        s"cell $cell: arriving mean ${ad / na} not clearly above " +
          s"resident mean ${rd / nr}")
    }
  }

  test("ivfTopK: nprobe buys recall monotonically, exact at nprobe = cells") {
    val (vectors, queries) = vecFrames
    val truth = Vectors.cosineTopK(vectors, queries, k = 3,
        id = "my_vid", vec = "emb")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def got(nprobe: Int): Set[(Long, Long, Long)] =
      Vectors.ivfTopK(vectors, queries, k = 3, cells = 8, nprobe = nprobe,
          id = "my_vid", vec = "emb")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val byP = Seq(1, 2, 4, 8).map(p => p -> got(p)).toMap
    graft.core.Caches.release()
    // probing every cell makes the candidate set the whole base minus
    // self, and the tie-break matches cosineTopK: row-for-row identity,
    // ranks included
    assert(byP(8) == truth, s"nprobe=cells diverged: ${byP(8)} vs $truth")
    // nested probe sets under identical exact ranking -> monotone recall
    val pairs = truth.map(t => (t._1, t._3))
    def hits(p: Int): Int = byP(p).map(t => (t._1, t._3)).count(pairs)
    assert(hits(1) <= hits(2) && hits(2) <= hits(4) && hits(4) <= hits(8),
      s"recall not monotone: ${Seq(1, 2, 4, 8).map(hits)}")
  }

  test("lshTopK: tables and probes each monotonically buy recall") {
    val (vectors, queries) = vecFrames
    val truth = Vectors.cosineTopK(vectors, queries, k = 3,
        id = "my_vid", vec = "emb")
      .collect().map(r => (r.getLong(0), r.getLong(2)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def hits(tables: Int, hamming: Int): Int = {
      val got = Vectors.lshTopK(vectors, queries, k = 3, bits = 6,
          tables = tables, hamming = hamming, id = "my_vid", vec = "emb")
        .collect().map(r => (r.getLong(0), r.getLong(2)))
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      graft.core.Caches.release()
      truth.map { case (q, t) => got.getOrElse(q, Set.empty).count(t) }.sum
    }
    val base = hits(tables = 1, hamming = 0)
    // candidate supersets under identical exact ranking -> monotone recall
    assert(hits(tables = 4, hamming = 0) >= base, "tables lost recall")
    assert(hits(tables = 1, hamming = 1) >= base, "probes lost recall")
    // on clustered data the full dial must find most true neighbors
    assert(hits(tables = 4, hamming = 1) >= 6,
      "the (tables=4, hamming=1) dial found under half the truth")
  }
}
