package graft

import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.queries.{Temporal, TextPipeline}

/** Scale-machinery demonstrations beyond per-query plans: runtime bloom
  * pruning, bucketed co-located joins, partition-pruned layouts, and the
  * window-group-limit pushdown — each asserted on the physical plan, since
  * these are exactly the behaviors that decide whether a 100 TB run
  * shuffles terabytes it didn't need to.
  */
class ScaleShapeSpec extends SparkSpec {

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  private def withConf[A](pairs: (String, String)*)(body: => A): A = {
    val saved = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("runtime bloom filter prunes the fact side of a selective join") {
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB") {
      val dim = Tables.orders(spark, sfDir)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val fact = Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_quantity"))
      val joined = fact.join(dim, col("l_orderkey") === col("o_orderkey"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("bloom_filter"),
        s"expected a runtime bloom filter in the optimized plan:\n$opt")
    }
  }

  test("bucketed tables join with zero exchanges (co-located join)") {
    val wh = java.nio.file.Files.createTempDirectory("graft_bucketed").toString
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      Tables.orders(spark, sfDir)
        .write.mode("overwrite").option("path", s"$wh/orders_b")
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_orders_b")
      Tables.lineitem(spark, sfDir)
        .select(col("l_orderkey"), col("l_extendedprice"))
        .write.mode("overwrite").option("path", s"$wh/lineitem_b")
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_lineitem_b")
      try {
        val j = spark.table("graft_lineitem_b")
          .join(spark.table("graft_orders_b"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy(col("o_orderpriority"))
          .agg(sum(col("l_extendedprice")).as("rev"))
        val p = plan(j)
        val joinIdx = p.indexOf("Join")
        assert(joinIdx >= 0)
        // no shuffle below the join: both sides arrive pre-partitioned by
        // the bucketing — the layout a 100 TB fact↔fact join needs
        assert(!p.substring(joinIdx).contains("Exchange"),
          s"bucketed join must not re-shuffle its inputs:\n$p")
        // every lineitem row finds its order: the co-located join loses nothing
        val joinedRows = spark.table("graft_lineitem_b")
          .join(spark.table("graft_orders_b"),
            col("l_orderkey") === col("o_orderkey")).count()
        assert(joinedRows == Tables.lineitem(spark, sfDir).count())
      } finally {
        spark.sql("DROP TABLE IF EXISTS graft_orders_b")
        spark.sql("DROP TABLE IF EXISTS graft_lineitem_b")
      }
    }
  }

  test("partitionBy layout prunes non-matching partitions at the scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    Tables.events(spark, sfDir)
      .select(col("event_id"), col("user_id"), col("event_type"))
      .write.mode("overwrite").partitionBy("event_type").parquet(dir)
    val filtered = spark.read.parquet(dir)
      .filter(col("event_type") === "click")
    val p = plan(filtered)
    assert(p.contains("PartitionFilters") && p.contains("event_type"),
      s"expected a partition filter at the scan:\n$p")
    val expected = Tables.events(spark, sfDir)
      .filter(col("event_type") === "click").count()
    assert(filtered.count() == expected)
  }

  test("per-group sample lowers to WindowGroupLimit (map-side top-k)") {
    val p = plan(TextPipeline.sampleGroup(spark, sfDir))
    assert(p.contains("WindowGroupLimit"),
      s"rank filter should push down as WindowGroupLimit:\n$p")
  }

  test("funnel: three windows + two aggs ride on two exchanges total") {
    val p = plan(Temporal.funnel(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 2,
      s"expected exactly 2 exchanges (user_id, stage), got $exchanges:\n$p")
    // the three chained windows must share one sort
    val sorts = "\\bSort \\[".r.findAllIn(p).length
    assert(sorts == 1, s"expected one shared sort for the windows, got $sorts:\n$p")
  }

  test("AQE splits a skewed partition at runtime (skew=true in final plan)") {
    import spark.implicits._
    withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "20KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "20KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
      // 95% of the big side lands on one key — the adversarial shape that
      // stalls a static plan on one straggler task
      val big = spark.range(200000)
        .select(when($"id" % 20 === 0, $"id" % 1000).otherwise(0L).as("k"),
          $"id".as("payload"))
      val dim = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("w"))
      val j = big.join(dim, "k").groupBy($"w").agg(count(lit(1)).as("n"))
      j.collect() // execute so AQE finalizes the plan
      val finalPlan = j.queryExecution.executedPlan.toString
      assert(finalPlan.contains("skew=true") || finalPlan.contains("Skew"),
        s"expected AQE skew-join handling in the final plan:\n$finalPlan")
    }
  }

  test("as-of join: one exchange, no self-join of the event table") {
    val p = plan(Temporal.asofJoin(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1, s"expected exactly 1 exchange, got $exchanges:\n$p")
    assert(!p.contains("Join"), "as-of must be a window scan, not a join")
  }

  test("bloom probe rides a broadcast join — the big side never shuffles pre-check") {
    val p = plan(graft.queries.Analytics.bloomMembership(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the ~260-row bloom word table must broadcast:\n$p")
  }

  test("retention plans the events scan exactly twice (no self-join re-plan)") {
    // the matrix + cohort-size combination must come from a window over
    // the aggregated matrix, not a join back onto it (which would re-plan
    // the whole events subtree: 4 scans instead of 2)
    val p = plan(graft.queries.Analytics.retention(spark, sfDir))
    val scans = "events\\.parquet".r.findAllIn(p).length
    assert(scans == 2, s"expected 2 events scans (e + cohort), got $scans:\n$p")
  }

  test("exact table stats: k column-pruned passes, never an Expand") {
    // the r14 reversal of the old one-scan pin: k countDistincts in ONE
    // aggregate lower through an Expand — k+1 copies of every row
    // through the hash aggregate (720M rows at the 100× drive, 537 s).
    // The exact path now unions k single-distinct aggregates, each over
    // a scan pruned to ITS column (scans are cheap, row multiplication
    // is not), broadcast-joined back to the one-pass nulls/min/max leg.
    val p = plan(graft.queries.Analytics.tableStats(spark, sfDir))
    assert(!p.contains("Expand"),
      s"exact NDV stats must not ride an Expand:\n$p")
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans == 12, s"expected 1 base + 11 NDV scans, got $scans:\n$p")
    // every NDV scan must be pruned to a single column ([^>\n]: the
    // base scan's 11-column schema truncates at 100 chars with no
    // closing '>', and an unanchored class would gobble lines past it)
    val ndvScans = "ReadSchema: struct<[^>\n]*".r.findAllIn(p).toSeq
    assert(ndvScans.count(s => !s.contains(",")) >= 11,
      s"NDV scans must be single-column pruned:\n${ndvScans.mkString("\n")}")
  }

  test("approx table stats (facade default): no Expand in the plan") {
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val p = plan(graft.api.Corpus.analyzeTable(li))
    assert(!p.contains("Expand"),
      s"approx-NDV census must not plan an Expand:\n$p")
    val scans = "lineitem\\.parquet".r.findAllIn(p).length
    assert(scans == 1, s"expected 1 lineitem scan, got $scans:\n$p")
  }

  test("chunk overlap is scan-local: census agg is the only exchange") {
    val p = plan(graft.queries.TextPipeline.chunkOverlap(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"chunking must not shuffle raw tokens, got $exchanges exchanges:\n$p")
  }

  test("scd2: lag/lead/rank stack on ONE user exchange and ONE sort") {
    val p = plan(Temporal.scd2Intervals(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"SCD2 must shuffle the log exactly once, got $exchanges:\n$p")
    // both window batches reuse the same (ms, event_id) sort order —
    // Spark may print one Sort (shared) but never three
    val sorts = "\\bSort \\[".r.findAllIn(p).length
    assert(sorts <= 2, s"SCD2 windows must share the sort, got $sorts:\n$p")
  }

  test("bm25: query terms broadcast, postings pruned before scoring") {
    val p = plan(graft.queries.Retrieval.bm25TopK(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"query-term table must broadcast into the postings join:\n$p")
    // ranking window reads only qterm postings: the window's sort appears
    // ABOVE the broadcast join in the plan (no global tf sort); both
    // operators must exist or the position compare is vacuous
    val wIdx = p.indexOf("Window")
    val jIdx = p.indexOf("BroadcastHashJoin")
    assert(wIdx >= 0 && jIdx >= 0, s"expected Window and BroadcastHashJoin:\n$p")
    assert(wIdx < jIdx, s"expected the rank window above the pruning join:\n$p")
  }

  test("semdedup: centers broadcast; no corpus-sized cartesian") {
    val p = plan(graft.queries.Similarity.semDedup(spark, sfDir))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"cell centers must broadcast into the assignment:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"in-cell pairing must stay an equi-join on cell id:\n$p")
  }

  test("pruned hybrid: query terms broadcast into the postings join") {
    val p = plan(graft.queries.Retrieval.hybridPruned(spark, sfDir))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"the query-term list must broadcast so lexical work stays " +
        s"postings-proportional:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidate generation must be the inverted-index equi-join:\n$p")
  }

  test("token budget: range-partitioned global order, no cartesian") {
    val p = plan(graft.queries.Mixing.tokenBudget(spark, sfDir))
    assert(p.toLowerCase.contains("rangepartitioning"),
      s"the global order must be a sampled range partition (GraySort " +
        s"machinery), not a single-task sort:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the 1-row/#partitions-row side tables must broadcast:\n$p")
  }

  test("quality classifier: no explode, census agg is the only exchange") {
    val p = plan(TextPipeline.qualityClassifier(spark, sfDir))
    // the logit is one array aggregate INSIDE the scan — a Generate
    // (explode) node would mean per-token rows and a per-doc shuffle
    assert(!p.contains("Generate"),
      s"hashed-feature scoring must not explode tokens:\n$p")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    assert(exchanges == 1,
      s"only the languages-sized census may shuffle, got $exchanges:\n$p")
  }

  test("multi-table LSH: query side broadcasts; candidate dedup is an agg, not a distinct-on-vectors") {
    val p = plan(graft.queries.Similarity.annLshMulti(spark, sfDir))
    assert(p.contains("BroadcastHashJoin"),
      s"the query signature table must broadcast into the bucket join:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"candidates must come from the (table, bucket) equi-join:\n$p")
  }

  test("shard manifest: offset window rides the shard exchange (one total)") {
    val p = plan(graft.queries.Mixing.shardManifest(spark, sfDir))
    val exchanges = "Exchange hashpartitioning".r.findAllIn(p).length
    // window partitionBy(shard) and groupBy(shard) share one hash
    // exchange — the export's own shuffle and nothing else
    assert(exchanges == 1,
      s"prefix-sum + census must reuse the shard exchange, got $exchanges:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("Generate"), p)
  }

  test("incremental dedup serve: band equi-join, split threshold broadcast") {
    val p = plan(TextPipeline.dedupIncremental(spark, sfDir))
    // the 1-row split threshold must broadcast (BNLJ against 1 row is the
    // in-plan-parameter idiom), and candidates must come from the band
    // equi-join — a cartesian would mean the index join lost its keys
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"the 1-row split threshold must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"serve candidates must come from the band equi-join:\n$p")
  }

  // a cached subtree prints once per reference, so count PHYSICAL
  // exchanges by unique plan id — two prints of one shared
  // InMemoryRelation are one shuffle, not two
  private def distinctHashExchanges(p: String): Int =
    "Exchange hashpartitioning[^\\[]*\\[plan_id=(\\d+)\\]".r
      .findAllMatchIn(p).map(_.group(1)).toSet.size

  test("key skew census: top-10 via TakeOrdered over aggregated counts only") {
    val p = plan(graft.queries.Analytics.keySkew(spark, sfDir))
    assert(p.contains("TakeOrderedAndProject"),
      s"the head must be TakeOrdered, not a global sort:\n$p")
    // exactly one corpus-sized exchange: the key-count aggregation,
    // cached and reused by both the top-10 and the totals row; the
    // totals agg itself is a 1-row single-partition exchange, not hash
    assert(distinctHashExchanges(p) == 1,
      s"only the key-count agg may hash-shuffle:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the count agg must be cached, not recomputed per reference:\n$p")
  }

  test("keep-best dedup: label argmax rides hash exchanges, no cartesian") {
    val p = plan(TextPipeline.dedupKeepBest(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"cluster labels must join scores by doc_id, survivors by label:\n$p")
    assert(p.contains("Window"), s"the survivor pick is a label window:\n$p")
  }

  test("cms join size: sketches join on (depth, pos) cells, no cartesian") {
    val p = plan(graft.queries.Sketches.cmsJoinSize(spark, sfDir))
    assert(!p.contains("CartesianProduct"),
      s"the inner product must be the (d, pos) equi-join of 3072-cell " +
        s"sketches (1-row frames broadcast):\n$p")
  }

  test("winsorize: one data exchange — bounds are windows, not a join-back") {
    val p = plan(graft.queries.Analytics.winsorize(spark, sfDir))
    // rank, count, both bound windows and the census share the single
    // per-type hash exchange; an agg-and-join-back formulation would
    // re-shuffle the data a second time
    assert(distinctHashExchanges(p) == 1,
      s"only the shared per-type exchange may hash-shuffle:\n$p")
    assert(!p.contains("CartesianProduct"))
  }

  test("dial-k IVF assignment rides the fused kernel, never a per-vid window") {
    // the r13 `weak`: IVF search / the ⌈√n⌉ dial / ivfDriftCensusOf fed
    // the production dials (cells = ⌈√n⌉) an n×k distance frame sorted
    // per vid — O(n^1.5) rows by design. All corpus-side assignment now
    // rides GraftNearestCell; the only windows left partition by q_id
    // (probe selection + final ranking over the QUERIES-sized side).
    val base = Tables.embeddings(spark, sfDir).select(
      col("vec_id").as("vid"),
      transform(col("embedding"),
        x => floor(x.cast("double") * 1000000).cast("bigint")).as("v"))
      .withColumn("n2", graft.functions.GraftDot(col("v"), col("v")))
    val queries = base.filter(col("vid") < 20)
    def assertNoVidWindow(df: org.apache.spark.sql.DataFrame,
        what: String): Unit = {
      val p = plan(df)
      assert(p.contains("graft_nearest_cell"),
        s"$what must assign cells on the fused kernel:\n$p")
      val exec = df.queryExecution.executedPlan
      val vidWindows = exec.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.exists(_.toString.contains("vid#")) => w
        case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec
            if w.partitionSpec.exists(_.toString.contains("vid#")) => w
      }
      assert(vidWindows.isEmpty,
        s"$what plans a per-vid window over the corpus side:\n$p")
    }
    val S = graft.queries.Similarity
    assertNoVidWindow(
      S.ivfSearch(base, queries, S.lowestCenters(base, 50), k = 3,
        nprobe = 8),
      "ivfSearch at a dial-derived cell count")
    assertNoVidWindow(
      S.ivfSearch(base, queries, S.sqrtNCenters(base), k = 3, nprobe = 8),
      "ivfSearch on the in-plan ⌈√n⌉ seed (the ann_ivf_sqrtn production path)")
    assertNoVidWindow(
      graft.queries.Similarity.ivfDriftCensusOf(
        base.filter(col("vid") % 2 === 0), base.filter(col("vid") % 2 === 1),
        cells = 50),
      "ivfDriftCensusOf at a caller-chosen cell count")
  }

  /** Joins of the static plan `exec` keyed on a column derived from a
    * vector exploded into per-dimension scalar rows — the (point, dim) ⋈
    * (center, dim) shape whose volume is n·dim·k rows. Lineage follows
    * aliases through projections and across cache boundaries. */
  private def perDimExplodeJoins(
      exec: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Alias, ExprId}
    import org.apache.spark.sql.catalyst.plans.QueryPlan
    import org.apache.spark.sql.execution.{GenerateExec, ProjectExec}
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.types.{ArrayType, StructType}
    def nodes(p: QueryPlan[_]): Seq[QueryPlan[_]] =
      p +: (p.innerChildren ++ p.children.collect { case c: QueryPlan[_] => c })
        .flatMap(nodes)
    val all = nodes(exec)
    var derived: Set[ExprId] = all.collect {
      case g: GenerateExec if g.generatorOutput.exists(a =>
          a.name == "col" && !a.dataType.isInstanceOf[ArrayType] &&
            !a.dataType.isInstanceOf[StructType]) =>
        g.generatorOutput.map(_.exprId)
    }.flatten.toSet
    var grown = true
    while (grown) {
      val next = derived ++ all.collect {
        case p: ProjectExec => p.projectList.collect {
          case a: Alias if a.child.references.exists(r => derived(r.exprId)) =>
            a.exprId
        }
        // a cache read renames the cached plan's output positionally
        case r: InMemoryRelation => r.output.zip(r.cachedPlan.output).collect {
          case (o, c) if derived(c.exprId) => o.exprId
        }
      }.flatten
      grown = next.size > derived.size
      derived = next
    }
    all.collect {
      case j: BaseJoinExec if (j.leftKeys ++ j.rightKeys)
          .exists(_.references.exists(r => derived(r.exprId))) =>
        j.simpleString(200)
    }
  }

  test("k-means and PQ assign on the fused kernel, never a per-dimension explode join") {
    // every centroid assignment is nearestAssign: no n·dim·k join frame
    // (the exploded q_kmeans_iter2) and no n·M·K struct-MIN (pqEncode)
    val S = graft.queries.Similarity
    Seq("q_kmeans_iter2" -> graft.queries.Iterative.kmeansIter2 _,
        "q_ann_pq" -> S.annPq _,
        "q_ann_pq_trained" -> S.annPqTrained _).foreach { case (name, q) =>
      try {
        // the static plan (AQE off): its tree holds every operator
        val exec = withConf("spark.sql.adaptive.enabled" -> "false") {
          q(spark, sfDir).queryExecution.executedPlan
        }
        val p = exec.toString
        assert(p.contains("graft_nearest_cell"),
          s"$name must assign on the fused kernel:\n$p")
        assert(!p.contains("min(struct(") && !p.contains("min(named_struct("),
          s"$name still takes a struct-MIN argmin:\n$p")
        val joins = perDimExplodeJoins(exec)
        assert(joins.isEmpty,
          s"$name joins on per-dimension exploded rows: $joins\n$p")
      } finally graft.core.Caches.release()
    }
  }

  test("corpus drift: one languages-sized exchange, totals broadcast back") {
    val p = plan(TextPipeline.corpusDrift(spark, sfDir))
    assert(distinctHashExchanges(p) == 1,
      s"only the per-language census may hash-shuffle:\n$p")
    assert(p.contains("InMemoryTableScan"),
      s"the census agg must be cached, not recomputed per reference:\n$p")
    assert(!p.contains("CartesianProduct"),
      s"the totals row must broadcast, not cartesian:\n$p")
  }
}
