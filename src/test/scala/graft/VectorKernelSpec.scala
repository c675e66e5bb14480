package graft

import org.apache.spark.sql.functions._

import graft.functions.{GraftDot, GraftL2}

/** The fused vector kernels must be VALUE-IDENTICAL to the
  * `aggregate(zip_with(...))` compositions they replaced — the DuckDB
  * oracles still spell the composition, so any drift (including Long
  * overflow wrap behavior) would break every ANN/k-means hash compare. */
class VectorKernelSpec extends SparkSpec {
  import spark.implicits._

  private def randVec(seed: Long, n: Int): Seq[Long] =
    Seq.tabulate(n)(i => ((seed * 6364136223846793005L + i * 1442695040888963407L) >> 16) % 2000000L)

  test("GraftDot / GraftL2 equal the zip_with composition, codegen path") {
    val rows = (1 to 200).map { i =>
      (i.toLong, randVec(i, 64), randVec(i + 7919, 64))
    }
    val df = rows.toDF("id", "a", "b")
    val out = df.select(
        GraftDot(col("a"), col("b")).as("dot_k"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
          lit(0L), (acc, v) => acc + v).as("dot_c"),
        GraftL2(col("a"), col("b")).as("l2_k"),
        aggregate(zip_with(col("a"), col("b"), (x, y) => (x - y) * (x - y)),
          lit(0L), (acc, v) => acc + v).as("l2_c"))
      .collect()
    out.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "dot drift")
      assert(r.getLong(2) == r.getLong(3), "l2 drift")
    }
    // ANSI overflow parity: the composition's `*` throws under Spark 4
    // ANSI mode — the kernel must throw too, never silently wrap
    val big = Seq((Seq(Long.MaxValue / 3, Long.MaxValue / 5),
      Seq(7L, 11L))).toDF("a", "b")
    intercept[Exception] {
      big.select(aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0L), (acc, v) => acc + v)).head()
    }
    intercept[Exception] {
      big.select(GraftDot(col("a"), col("b"))).head()
    }
  }

  test("interpreted eval path agrees with codegen") {
    val df = Seq((randVec(42, 16), randVec(43, 16))).toDF("a", "b")
    // filter on the kernel forces an eval in the interpreted Filter
    // fallback when codegen is disabled session-wide for the check
    val kDot = df.select(GraftDot(col("a"), col("b")).as("d")).head().getLong(0)
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      val iDot = df.select(GraftDot(col("a"), col("b")).as("d")).head().getLong(0)
      assert(iDot == kDot)
      val kL2 = df.select(GraftL2(col("a"), col("b")).as("d")).head().getLong(0)
      val cL2 = df.select(aggregate(zip_with(col("a"), col("b"),
        (x, y) => (x - y) * (x - y)), lit(0L), (acc, v) => acc + v)).head().getLong(0)
      assert(kL2 == cL2)
    }
  }

  test("GraftAffineMin equals the array_min(transform) composition") {
    val rows = (1 to 100).map(i => Tuple1(randVec(i, 37).map(_.abs % 1000000007L)))
    val df = rows.toDF("hs")
    Seq((3L, 7L), (131L, 17L), (999999L, 1L)).foreach { case (a, b) =>
      val out = df.select(
        graft.functions.GraftAffineMin(col("hs"), a, b, 1000000007L).as("k"),
        array_min(transform(col("hs"), h => (h * a + b) % 1000000007L)).as("c"))
        .collect()
      out.foreach(r => assert(r.getLong(0) == r.getLong(1), s"drift at a=$a b=$b"))
    }
  }

  test("GraftNearestCell equals the join+window argmin, ties included") {
    // centers engineered so ties happen: center 5 duplicates center 2's
    // vector — on any vector equidistant the LOWER cid must win, exactly
    // the Window.orderBy(dist, cid) / MIN(struct) contract
    val centers = (0L to 9L).map { c =>
      (c, if (c == 5L) randVec(2 + 100, 16) else randVec(c + 100, 16))
    }
    val vecs = (1 to 300).map(i => (i.toLong, randVec(i, 16)))
    val vdf = vecs.toDF("vec_id", "v")
    val cdf = centers.toDF("cid", "cv")
    val carr = cdf.agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
      .as("cs"))
    val kern = vdf.crossJoin(broadcast(carr))
      .select(col("vec_id"),
        graft.functions.GraftNearestCell(col("v"), col("cs")).as("cid"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("dist"), col("cid"))
    val wind = vdf.join(broadcast(cdf))
      .select(col("vec_id"), col("cid"),
        GraftL2(col("v"), col("cv")).as("dist"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kern === wind)
    // the duplicated center proves tie-breaking: no vector may ever
    // resolve to cid 5 (cid 2 carries the identical vector)
    assert(!kern.values.exists(_ == 5L), "tie must break to the lower cid")
    // empty center table fails loudly (the window form silently drops
    // every row — an upstream bug must not masquerade as empty output)
    val e = intercept[Exception] {
      vdf.crossJoin(broadcast(
          cdf.filter(col("cid") < 0)
            .agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
              .as("cs"))))
        .select(graft.functions.GraftNearestCell(col("v"), col("cs")))
        .head()
    }
    // Option-guard both messages: an outer exception with a null message
    // must fail the assertion, not NPE it (r13 advice)
    assert(Option(e.getMessage).exists(_.contains("empty center")) ||
      (e.getCause != null &&
        Option(e.getCause.getMessage).exists(_.contains("empty center"))))
  }

  test("per-subspace GraftNearestCell codes equal the struct-MIN argmin, ties included") {
    // 3 subspaces × 6 centroids, each subspace its own codebook; in every
    // subspace centroid 4 duplicates centroid 1's subvector, so a row
    // nearest to that subvector must take the lower cid
    val cdf = (for (m <- 0 until 3; c <- 0L until 6L) yield
      (m, c, randVec(300L + 10 * m + (if (c == 4L) 1L else c), 8)))
      .toDF("m", "cid", "cv")
    val sdf = (for (vid <- 1L to 200L; m <- 0 until 3) yield
      (vid, m, randVec(vid * 3 + m, 8))).toDF("vid", "m", "vm")
    def codes(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("vid"), r.getAs[Int]("m")) -> r.getAs[Long]("code"))
      .toMap
    val kern = codes(graft.queries.Similarity.nearestAssign(sdf, cdf, "code",
      vec = "vm", keys = Seq("m")))
    // the reference: the struct-MIN over every (row, centroid) pair of
    // the row's subspace — the n·M·K-row form the kernel replaced
    val ref = codes(sdf.join(broadcast(cdf), "m")
      .groupBy(col("vid"), col("m"))
      .agg(min(struct(GraftL2(col("vm"), col("cv")).as("dist"), col("cid")))
        .as("best"))
      .select(col("vid"), col("m"), col("best.cid").as("code")))
    assert(kern.size == 600 && kern == ref)
    assert(kern.values.exists(_ == 1L), "no row reached the tied centroid")
    assert(!kern.values.exists(_ == 4L), "tie must break to the lower cid")
  }

  test("GraftNearestCell interpreted eval agrees with codegen") {
    val cdf = (0L to 3L).map(c => (c, randVec(c + 50, 8))).toDF("cid", "cv")
    val carr = cdf.agg(sort_array(collect_list(struct(col("cid"), col("cv"))))
      .as("cs"))
    val vdf = Seq((1L, randVec(9, 8))).toDF("vec_id", "v")
    def run(): Long = vdf.crossJoin(broadcast(carr))
      .select(graft.functions.GraftNearestCell(col("v"), col("cs")))
      .head().getLong(0)
    val cg = run()
    withSQLConf("spark.sql.codegen.wholeStage" -> "false",
      "spark.sql.codegen.factoryMode" -> "NO_CODEGEN") {
      assert(run() == cg)
    }
  }

  test("GraftDot / GraftL2 refuse null slots loudly (never read garbage)") {
    // checkInputDataTypes accepts array<bigint> with nullable elements
    // (parquet reads report containsNull=true for clean data too), so a
    // dirty vector reaches the kernel at runtime: the composition would
    // return NULL, a raw getLong would read an arbitrary unsafe word —
    // the kernel must fail with the slot named instead of mis-ranking
    val dirty = Seq((Seq[java.lang.Long](1L, null, 3L),
      Seq[java.lang.Long](4L, 5L, 6L))).toDF("a", "b")
    val eDot = intercept[Exception] {
      dirty.select(GraftDot(col("a"), col("b"))).head()
    }
    assert(Option(eDot.getMessage).exists(_.contains("null element")) ||
      (eDot.getCause != null &&
        Option(eDot.getCause.getMessage).exists(_.contains("null element"))),
      s"dot error did not name the null slot: ${eDot.getMessage}")
    val eL2 = intercept[Exception] {
      dirty.select(GraftL2(col("a"), col("b"))).head()
    }
    assert(Option(eL2.getMessage).exists(_.contains("null element")) ||
      (eL2.getCause != null &&
        Option(eL2.getCause.getMessage).exists(_.contains("null element"))),
      s"l2 error did not name the null slot: ${eL2.getMessage}")
  }

  test("GraftAffineMin skips null slots like array_min") {
    val df = Seq(Tuple1(Seq[java.lang.Long](null, 7L, 3L)))
      .toDF("hs")
    val out = df.select(
      graft.functions.GraftAffineMin(col("hs"), 3L, 1L, 1000000007L).as("k"),
      array_min(transform(col("hs"), h => (h * 3L + 1L) % 1000000007L)).as("c"))
      .head()
    assert(out.getLong(0) == out.getLong(1))
  }

  test("SQL registration: graft_dot / graft_l2 / graft_tokenize parse and match") {
    def reg(name: String, cls: Class[_],
        make: Seq[org.apache.spark.sql.catalyst.expressions.Expression] =>
          org.apache.spark.sql.catalyst.expressions.Expression): Unit =
      spark.sessionState.functionRegistry.registerFunction(
        new org.apache.spark.sql.catalyst.FunctionIdentifier(name),
        new org.apache.spark.sql.catalyst.expressions.ExpressionInfo(
          cls.getName, name), make)
    reg("graft_dot", classOf[graft.functions.GraftDot],
      c => graft.functions.GraftDot(c.head, c(1)))
    reg("graft_l2", classOf[graft.functions.GraftL2],
      c => graft.functions.GraftL2(c.head, c(1)))
    reg("graft_tokenize", classOf[graft.functions.GraftTokenize],
      c => graft.functions.GraftTokenize(c.head))
    val row = spark.sql(
      """SELECT graft_dot(a, b) AS d, graft_l2(a, b) AS l,
        |  graft_tokenize('one two.three') AS t
        |FROM VALUES (array(1L, 2L, 3L), array(4L, 5L, 6L)) AS v(a, b)""".stripMargin)
      .head()
    assert(row.getLong(0) == 32L)
    assert(row.getLong(1) == 27L)
    assert(row.getSeq[String](2) == Seq("one", "two", "three"))
  }

  private def withSQLConf(kvs: (String, String)*)(f: => Unit): Unit = {
    val conf = spark.conf
    val olds = kvs.map { case (k, _) => k -> conf.getOption(k) }
    kvs.foreach { case (k, v) => conf.set(k, v) }
    try f finally olds.foreach {
      case (k, Some(v)) => conf.set(k, v)
      case (k, None) => conf.unset(k)
    }
  }
}
