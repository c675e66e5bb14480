package graft

import org.apache.spark.sql.functions._

import graft.queries.{Temporal, TextPipeline, Tokenizer}

/** Semantics of the round-5 additions: BPE pair statistics vs a brute
  * recount from the raw corpus, fuzzy-match blocking laws, weighted
  * sampling mass, SCD2 interval algebra, and CUSUM shift localization.
  */
class TokenizerSpec extends SparkSpec {

  test("bpe pair counts equal a brute corpus-level recount") {
    val out = Tokenizer.bpePairs(spark, sfDir).persist()
    try {
      assert(out.count() == 20)
      // brute force: explode EVERY word occurrence (not the vocab) and
      // count pairs directly — the vocab×freq factoring must be invisible
      val brute = graft.core.Tables.documents(spark, sfDir)
        .select(explode(graft.queries.Qdsl.words(col("text"))).as("w"))
        .filter(length(col("w")) >= 2 && length(col("w")) <= 64)
        .select(explode(expr(
          "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("pair"))
        .groupBy(col("pair")).agg(count(lit(1)).as("brute_count"))
      val joined = out.join(brute, "pair")
      assert(joined.count() == 20)
      assert(joined.filter(col("pair_count") =!= col("brute_count")).count() == 0,
        "vocab-factored pair counts diverge from the brute recount")
    } finally out.unpersist()
  }

  test("fuzzy match census is consistent and the guard holds") {
    val row = Tokenizer.fuzzyMatch(spark, sfDir).collect().head
    val nVocab = row.getAs[Long]("n_vocab")
    val nPairs = row.getAs[Long]("n_pairs")
    val maxBlock = row.getAs[Long]("max_block")
    assert(nVocab > 0)
    assert(nPairs >= 0)
    // no block exceeds the cap unless it was dropped
    if (row.getAs[Long]("n_blocks_dropped") == 0)
      assert(maxBlock <= Tokenizer.FuzzyBlockCap)
  }

  test("weighted sampling keeps mass proportional to weight") {
    val rows = TextPipeline.sampleWeighted(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val total = r.getAs[Long]("n_total")
      val kept = r.getAs[Long]("n_kept")
      val massPm = r.getAs[Long]("sum_weight_pm")
      assert(kept <= total)
      // realized sample size tracks expected mass (sum w / 1000) within
      // a generous concentration band — hash-threshold draws are i.i.d.
      // uniform per doc, so ±40% at these counts is conservative
      val expected = massPm / 1000.0
      assert(kept >= expected * 0.6 - 5 && kept <= expected * 1.4 + 5,
        s"kept=$kept expected≈$expected for lang=${r.getAs[String]("lang")}")
    }
  }

  test("scd2 intervals tile each user's timeline without overlap") {
    val out = Temporal.scd2Intervals(spark, sfDir).persist()
    try {
      assert(out.count() > 0)
      // exactly one open (current) interval per user
      val open = out.groupBy(col("user_id"))
        .agg(sum(when(col("is_current"), 1L).otherwise(0L)).as("n_open"))
      assert(open.filter(col("n_open") =!= 1).count() == 0)
      // consecutive versions chain: valid_to(version k) == valid_from(k+1)
      val nxt = out.select(col("user_id"), (col("version") - 1).as("version"),
        col("valid_from").as("next_from"))
      val chained = out.join(nxt, Seq("user_id", "version"))
      assert(chained.filter(col("valid_to") =!= col("next_from")).count() == 0,
        "interval chain has gaps or overlaps")
      // no zero-length or negative intervals
      assert(out.filter(col("valid_to").isNotNull &&
        col("valid_to") <= col("valid_from")).count() == 0)
      // state actually changes across consecutive versions
      val states = out.select(col("user_id"), (col("version") - 1).as("version"),
        col("state").as("next_state"))
      val same = out.join(states, Seq("user_id", "version"))
        .filter(col("state") === col("next_state"))
      assert(same.count() == 0, "adjacent intervals share a state (not RLE)")
    } finally out.unpersist()
  }

  test("kcore census is monotone and the surviving core satisfies k") {
    val out = graft.queries.GraphText.kcore(spark, sfDir)
      .orderBy(col("round")).collect()
    assert(out.length == 5)
    // peeling only removes: nodes/edges non-increasing round over round
    out.sliding(2).foreach { case Array(p, n) =>
      assert(n.getAs[Long]("n_nodes") <= p.getAs[Long]("n_nodes"))
      assert(n.getAs[Long]("n_edges") <= p.getAs[Long]("n_edges"))
    }
    // once two consecutive censuses agree the peel has converged, and
    // convergence must persist (fixpoint stays fixed)
    val pairs = out.sliding(2).toSeq
    val conv = pairs.indexWhere { case Array(p, n) =>
      p.getAs[Long]("n_edges") == n.getAs[Long]("n_edges") }
    if (conv >= 0) pairs.drop(conv).foreach { case Array(p, n) =>
      assert(p.getAs[Long]("n_edges") == n.getAs[Long]("n_edges")) }
  }

  test("power-law kcore actually cascades: multiple non-trivial peels") {
    val out = graft.queries.GraphText.kcorePowerlaw(spark, sfDir)
      .orderBy(col("round")).collect()
    assert(out.length == 9)
    // monotone like the bipartite variant
    out.sliding(2).foreach { case Array(p, n) =>
      assert(n.getAs[Long]("n_nodes") <= p.getAs[Long]("n_nodes"))
      assert(n.getAs[Long]("n_edges") <= p.getAs[Long]("n_edges"))
    }
    // the property the uniform graph can't provide: at least TWO rounds
    // each remove a nonzero set (a cascade — round 2's removals are
    // CAUSED by round 1's, so rounds ≥ 2 of the loop run against real
    // shrinkage, not a converged fixpoint)
    val shrinks = out.sliding(2).count { case Array(p, n) =>
      n.getAs[Long]("n_nodes") < p.getAs[Long]("n_nodes") }
    assert(shrinks >= 2,
      s"expected a multi-round peel cascade, got $shrinks shrinking rounds")
    // and the trajectory converges within the round budget
    val last2 = out.takeRight(2)
    assert(last2(0).getAs[Long]("n_edges") == last2(1).getAs[Long]("n_edges"),
      "peel did not converge within the round budget")
  }

  test("k-anonymity census bounds risk rows by class counts") {
    val rows = graft.queries.Analytics.kAnonymity(spark, sfDir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_underk_classes") <= r.getAs[Long]("n_classes"))
      assert(r.getAs[Long]("n_rows_at_risk") <= r.getAs[Long]("n_rows"))
      // an under-k class holds < 5 rows, so risk rows < 5 × under-k classes
      assert(r.getAs[Long]("n_rows_at_risk") <=
        r.getAs[Long]("n_underk_classes") * 4)
      assert(r.getAs[Long]("max_class") <= r.getAs[Long]("n_rows"))
    }
  }

  test("cusum localizes an injected level shift") {
    import spark.implicits._
    // synthetic: 200 hours at rate 5, then 200 hours at rate 15 — the
    // max |S| hour must land on (or immediately around) the boundary
    val rows = (0 until 400).flatMap { h =>
      val rate = if (h < 200) 5 else 15
      (0 until rate).map(i => ("shift", h.toLong * 3600000L + i, 1))
    }
    val df = rows.toDF("event_type", "ms", "one")
      .select(col("event_type"),
        to_timestamp(col("ms") / 1000).as("ts"))
    // run the same plan shape as the query via a temp table seam: rebuild
    // the hourly cusum inline (the query reads Tables.events; this spec
    // validates the math on a controlled series)
    val hourly = df.select(col("event_type"),
        (unix_millis(col("ts")) / 3600000).cast("long").as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("y"))
    val tot = org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))
    val run = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val rank = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(abs(col("s")).desc, col("h"))
    val cp = hourly
      .withColumn("n", count(lit(1)).over(tot))
      .withColumn("sy", sum(col("y")).over(tot))
      .withColumn("s", sum(col("n") * col("y") - col("sy")).over(run))
      .withColumn("rn", row_number().over(rank))
      .filter(col("rn") === 1).collect().head
    val changeHour = cp.getAs[Long]("h")
    assert(math.abs(changeHour - 199L) <= 1,
      s"change point located at hour $changeHour, expected ~199")
    // real-table query runs and emits one row per event_type
    val real = Temporal.cusumChange(spark, sfDir)
    val n = real.count()
    assert(n > 0 && n == real.select(col("event_type")).distinct().count())
  }

  test("replace merge semantics: single-pass left-to-right, as the oracle") {
    import spark.implicits._
    // ' a a a a ' under merge (a,a): DuckDB-verified value — the scan
    // consumes the separator and continues AFTER the replacement, so the
    // run collapses to 'aa a a', not 'aa aa'. Both engines must agree or
    // q_bpe_train's vocabulary checksums drift.
    val got = Seq(" a a a a ").toDF("w")
      .select(expr("replace(w, ' a a ', ' aa ')")).head.getString(0)
    assert(got == " aa a a ", s"Spark replace semantics drifted: '$got'")
  }

  test("bpe training replays exactly on the driver: rules, counts, rewrite") {
    val vocab = graft.core.Tables.documents(spark, sfDir)
      .select(explode(graft.queries.Qdsl.words(col("text"))).as("raw"))
      .filter(length(col("raw")) >= 2 && length(col("raw")) <= 64)
      .groupBy(col("raw")).agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    var v = vocab.map { case (w, f) => (" " + w.mkString(" ") + " ", f) }
    val expect = (1 to 3).map { k =>
      val counts = v.flatMap { case (w, f) =>
        val sy = w.trim.split(" ")
        sy.sliding(2).withFilter(_.length == 2)
          .map(p => p.mkString(" ") -> f).toSeq
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum)
      val (pair, pc) = counts.toSeq.sortBy { case (p, c) => (-c, p) }.head
      v = v.map { case (w, f) =>
        ((1 to 6).foldLeft(w)((acc, _) =>
          acc.replace(" " + pair + " ", " " + pair.replace(" ", "") + " ")), f)
      }
      val checksum = v.map { case (w, _) =>
        graft.functions.GraftHash60.hash(w.getBytes("UTF-8")) % 1000000007L
      }.sum
      (k.toLong, pair, pc, checksum)
    }
    val enc = Tokenizer.bpeEncode(spark, sfDir).collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    // every word is at least one symbol, at most its character count,
    // and the three learned merges compress the corpus overall
    enc.foreach { case (nw, chars, syms) =>
      assert(syms >= nw && syms <= chars, s"symbol bounds violated: $enc")
    }
    assert(enc.map(_._3).sum < enc.map(_._2).sum,
      "three merges produced zero corpus compression")
    val got = Tokenizer.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got == expect, s"bpe rounds drifted:\n got   $got\n expect $expect")
    // the three learned rules are distinct merges
    assert(got.map(_._2).distinct.size == 3)
  }

  /** Drive the batched trainer on an explicit (raw, freq) vocabulary and
    * return (rules, final_checksum, rounds grouped by the census pass
    * that learned them). */
  private def runBatched(vocab: Seq[(String, Long)], rounds: Int,
      batch: Int): (Seq[(Long, String, Long)], Long, Seq[Set[Long]]) = {
    import spark.implicits._
    val rows = graft.queries.Tokenizer.bpeTrainRulesBatched(
      vocab.toDF("raw", "freq"), rounds, batch).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1).toSeq
    (rows.map(t => (t._1, t._2, t._3)),
      if (rows.isEmpty) 0L else rows.head._4,
      rows.groupBy(_._5).toSeq.sortBy(_._1).map(_._2.map(_._1).toSet))
  }

  private def runSequential(vocab: Seq[(String, Long)],
      rounds: Int): (Seq[(Long, String, Long)], Long) = {
    import spark.implicits._
    val rows = graft.queries.Tokenizer.bpeTrainRules(
      vocab.toDF("raw", "freq"), rounds).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1)
    (rows.map(t => (t._1, t._2, t._3)).toSeq,
      if (rows.isEmpty) 0L else rows.last._4)
  }

  test("batched bpe ≡ sequential when the top rules are independent (strict: no fallback)") {
    // top-3 pairwise symbol-disjoint, and the only other pair (g h)
    // touches none of them → maxTouch = 0 → one batched pass of 3
    val vocab = Seq(("ab", 100L), ("cd", 90L), ("ef", 80L), ("gh", 5L))
    val (batched, fpB, passes) = runBatched(vocab, 3, 3)
    val (seq, fpS) = runSequential(vocab, 3)
    assert(batched == seq, s"batched drifted:\n $batched\n $seq")
    assert(fpB == fpS, "final vocabulary state drifted")
    assert(batched.map(_._2) == Seq("a b", "c d", "e f"))
    assert(passes == Seq(Set(1L, 2L, 3L)), s"batch did not apply: $passes")
  }

  test("batched bpe falls back when a merge would create a winning pair") {
    // merging 'a b' CREATES pair (x ab) — count 95, inherited from
    // (x a) — which sequential round 2 must pick over (c d)=90. Naive
    // batch-apply of the census top would emit (c d) instead: wrong
    // rules AND wrong state. The guard catches it: the feeder pair
    // (x a)=95 rides the census top-3 and shares 'a' with (a b), so
    // disjointness fails and the batch falls back to per-round argmax;
    // output must equal the sequential replay exactly — including the
    // created pair 'x ab' that only exists post-merge.
    val vocab = Seq(("ab", 100L), ("xab", 95L), ("cd", 90L))
    val (seq, fpS) = runSequential(vocab, 3)
    assert(seq(1)._2 == "x ab",
      s"fixture must make the created pair win round 2, got ${seq(1)}")
    val (batched, fpB, passes) = runBatched(vocab, 3, 3)
    assert(batched == seq, s"fallback output drifted:\n $batched\n $seq")
    assert(fpB == fpS)
    // the first census falls back to one rule rather than batching
    assert(passes.head == Set(1L), s"batch was not refused: $passes")
  }

  test("batched bpe 2·maxTouch guard is conservative but never wrong") {
    // top-2 (a b)=160, (c d)=90 ARE disjoint and batching them would
    // even be correct here (the created (x ab)=60 loses round 2 to
    // (c d)=90) — but the guard cannot prove it: (x a)=60 touches the
    // batch and 2·60 > 90, so the batch falls back. Conservatism is
    // the contract: output equals sequential on BOTH branches; the
    // passes show which branch ran.
    val vocab = Seq(("ab", 100L), ("cd", 90L), ("xab", 60L))
    val (seq, fpS) = runSequential(vocab, 2)
    val (batched, fpB, passes) = runBatched(vocab, 2, 2)
    assert(batched == seq && fpB == fpS)
    assert(passes == Seq(Set(1L), Set(2L)), s"batch was not refused: $passes")
  }

  test("batched bpe treats self-adjacent rules as not provably independent") {
    // the r15-ADVICE counterexample: vocab {aaaa:100, bc:10} has top-2
    // census ('a a')=300, ('b c')=10 — pairwise DISJOINT with
    // maxTouch=0, so the pre-fix check certified the batch — yet
    // merging the self-adjacent 'a a' creates ('aa','aa')=100 which
    // sequential round 2 must pick over ('b c')=10. Created-pair counts
    // of a self-merge are bounded by the batch pair's OWN count, which
    // maxTouch excludes; the guard must refuse such batches outright.
    val vocab = Seq(("aaaa", 100L), ("bc", 10L))
    val (seq, fpS) = runSequential(vocab, 2)
    assert(seq(1)._2 == "aa aa",
      s"fixture must make the created self-pair win round 2, got ${seq(1)}")
    val (batched, fpB, passes) = runBatched(vocab, 2, 2)
    assert(batched == seq, s"self-adjacent batch drifted:\n $batched\n $seq")
    assert(fpB == fpS, "final vocabulary state drifted")
    assert(passes == Seq(Set(1L), Set(2L)), s"batch was not refused: $passes")
  }

  test("batched bpe falls back on overlapping top rules (shared symbol)") {
    // ' a b c ': (a b) and (b c) share 'b' — not disjoint
    val vocab = Seq(("abc", 100L), ("de", 40L))
    val (seq, fpS) = runSequential(vocab, 2)
    val (batched, fpB, passes) = runBatched(vocab, 2, 2)
    assert(batched == seq && fpB == fpS)
    assert(passes == Seq(Set(1L), Set(2L)), s"batch was not refused: $passes")
  }

  /** Rounds past 2 force three state handoffs at batch 2, the middle
    * batch engineered to fall back (see the chaining test). */
  private val chainedVocab = Seq(("ab", 100L), ("cd", 90L), ("efg", 40L),
    ("hi", 30L), ("jk", 28L), ("lm", 5L))

  test("multi-batch chaining with a mid-run fallback ≡ sequential") {
    // 6 rounds at batch 2 force THREE state handoffs across batches,
    // with the middle batch engineered to fall back: census 2's top-2
    // (e f)/(f g) share 'f', so rounds 1-2 batch-apply, round 3 falls
    // back to one rule, rounds 4-5 batch-apply again off the
    // handed-over vocabulary state, round 6 is a take-1 tail. The
    // output must equal the sequential replay across every handoff —
    // the state the batched path carries between batches is the only
    // vocabulary there is.
    val (seq, fpS) = runSequential(chainedVocab, 6)
    assert(seq.map(_._2) == Seq("a b", "c d", "e f", "ef g", "h i", "j k"),
      s"fixture census order drifted: $seq")
    val (batched, fpB, passes) = runBatched(chainedVocab, 6, 2)
    assert(batched == seq, s"chained output drifted:\n $batched\n $seq")
    assert(fpB == fpS, "final vocabulary state drifted across handoffs")
    // the passes pin WHICH branches ran: batch, fallback, batch, take-1 tail
    assert(passes == Seq(Set(1L, 2L), Set(3L), Set(4L, 5L), Set(6L)),
      s"census passes drifted: $passes")
  }

  test("batched bpe at batch 1 is the sequential trainer: rules and final state") {
    // the Corpus.bpeMerges default: one census argmax per pass
    val (seq, fpS) = runSequential(chainedVocab, 6)
    val (one, fpO, passes) = runBatched(chainedVocab, 6, 1)
    assert(one == seq && fpO == fpS,
      s"batch 1 drifted from the sequential trainer:\n $one\n $seq")
    assert(passes == (1L to 6L).map(Set(_)))
    // and on the corpus vocabulary
    val vocab = graft.core.Tables.documents(spark, sfDir)
      .select(explode(graft.queries.Qdsl.words(col("text"))).as("raw"))
      .filter(length(col("raw")) >= 2 &&
        length(col("raw")) <= graft.queries.Tokenizer.MaxWordLen)
      .groupBy(col("raw")).agg(count(lit(1)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val (seqC, fpSC) = runSequential(vocab, 3)
    val (oneC, fpOC, _) = runBatched(vocab, 3, 1)
    graft.core.Caches.release()
    assert(oneC == seqC && fpOC == fpSC,
      s"batch 1 drifted on the corpus:\n $oneC\n $seqC")
  }

  test("q_bpe_train_batched over the corpus equals the sequential rules") {
    val got = graft.queries.Tokenizer.bpeTrainBatched(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    val seq = Tokenizer.bpeTrain(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == seq.map(t => (t._1, t._2, t._3)),
      s"batched corpus rules drifted:\n $got\n $seq")
    assert(got.map(_._4).distinct == Seq(seq.last._4),
      "final checksum must be the sequential round-3 vocabulary state")
    graft.core.Caches.release()
  }
}
