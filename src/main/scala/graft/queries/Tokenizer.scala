package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.{GQuery, HotKeys, Tables}
import Qdsl._

/** Tokenizer-training operators over the `documents` corpus: BPE merge-pair
  * statistics and edit-distance vocabulary matching. Both exploit the same
  * scale lever — after the first frequency aggregation every downstream
  * step works on the DISTINCT-WORD vocabulary (∝ vocabulary size, which
  * grows sub-linearly with corpus bytes) instead of the corpus itself, the
  * standard trick real BPE trainers (SentencePiece, HF tokenizers) use to
  * make pair counting tractable.
  */
object Tokenizer {

  /** Words longer than this contribute no pairs/matches (oracle `range`
    * fan-out cap; the synthetic vocabulary tops out far below it). The
    * 6-pass exhaustive-merge bound in [[bpeTrainRules]] is derived from
    * this cap — `Corpus.bpeMerges` references it so the two cannot
    * drift. */
  private[graft] val MaxWordLen = 64

  // ----------------------------------------------- BPE merge-pair counts

  /** BPE iteration-0 pair statistics: the 20 most frequent adjacent
    * character pairs across the corpus, each weighted by the frequency of
    * the words containing it — exactly the statistic the first BPE merge
    * maximizes (the argmax row IS the first merge rule).
    *
    * Scale shape: the corpus collapses to (word, freq) in one partial-agg
    * exchange; pair explosion then runs over DISTINCT words only (a word
    * seen a million times is scanned once, its pair counts multiplied by
    * freq), so the second aggregation is vocabulary-sized. The census
    * tops out with TakeOrderedAndProject. Ties break lexicographically. */
  def bpePairs(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 2 && length(col("w")) <= MaxWordLen)
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
    vocab
      .select(col("freq"),
        explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
          .as("pair"))
      .groupBy(col("pair"))
      .agg(sum(col("freq")).as("pair_count"),
        count(lit(1)).as("n_positions"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)
  }

  private val bpePairsSql =
    s"""WITH toks AS (SELECT unnest($wordsSqlDoc) AS w FROM documents),
      |v AS (SELECT w, COUNT(*) AS freq FROM toks
      |      WHERE length(w) >= 2 AND length(w) <= $MaxWordLen GROUP BY w),
      |p AS (SELECT substring(w, j.j + 1, 2) AS pair, freq
      |      FROM v CROSS JOIN range(${MaxWordLen - 1}) j(j)
      |      WHERE j.j + 1 <= length(w) - 1)
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count,
      |  COUNT(*) AS n_positions
      |FROM p GROUP BY pair
      |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  // ------------------------------------------ fuzzy vocabulary matching

  /** Blocks holding more distinct words than this are excluded from the
    * pair join (and censused) — the same hot-bucket hygiene as the LSH
    * caps: an adversarial vocabulary sharing one prefix cannot turn the
    * in-block join quadratic. */
  private[graft] val FuzzyBlockCap = 2000L

  /** Edit-distance-1 vocabulary pair discovery (spell-variant / OCR-noise
    * clustering): distinct words of length ≥ 4 are blocked on their
    * 2-character prefix, and within each surviving block every ordered
    * pair at levenshtein distance exactly 1 is counted. Output is a
    * one-row census (pair count + order-independent checksum + guard
    * telemetry), so the result stays bounded at any vocabulary size.
    *
    * Scale shape: vocabulary-sized input (see object doc); the block join
    * is an equi-join on the prefix — Spark hash-partitions blocks across
    * the cluster — with the quadratic blow-up capped by [[FuzzyBlockCap]].
    * A prefix block misses pairs whose FIRST two chars differ (standard
    * blocking recall tradeoff; a production matcher adds a second pass
    * blocked on suffix or length — same plan shape, OR'd like the LSH
    * bands). levenshtein() is codegen'd on the Spark side and mirrors
    * DuckDB's builtin exactly for ASCII vocabulary. */
  def fuzzyMatch(s: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(s, dir)
      .select(explode(words(col("text"))).as("w"))
      .filter(length(col("w")) >= 4 && length(col("w")) <= MaxWordLen)
      .distinct()
      .withColumn("blk", substring(col("w"), 1, 2))
    val blocks = vocab.groupBy(col("blk")).agg(count(lit(1)).as("bn"))
    val (ok, _) = HotKeys.divert(vocab,
      HotKeys.census(vocab, Seq("blk"), FuzzyBlockCap), Seq("blk"))
    // the 3-arg threshold form runs the banded DP and early-exits past
    // distance 1 (returns -1), so comparison cost per pair is O(len)
    // instead of O(len²); at k=1 `levenshtein(a,b,1) = 1` is exactly
    // `levenshtein(a,b) = 1`, which is what the oracle states
    val pairs = ok.as("a").join(ok.as("b"),
        col("a.blk") === col("b.blk") && col("a.w") < col("b.w") &&
          abs(length(col("a.w")) - length(col("b.w"))) <= 1 &&
          levenshtein(col("a.w"), col("b.w"), 1) === 1)
      .select(col("a.w").as("wa"), col("b.w").as("wb"))
    vocab.agg(count(lit(1)).as("n_vocab"))
      .crossJoin(blocks.agg(count(lit(1)).as("n_blocks"),
        max(col("bn")).as("max_block"),
        sum(when(col("bn") > FuzzyBlockCap, 1L).otherwise(0L)).as("n_blocks_dropped")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_pairs"),
        coalesce(sum(hashMod(concat_ws("|", col("wa"), col("wb")))), lit(0L))
          .as("pair_checksum")))
  }

  private val fuzzyMatchSql =
    s"""WITH toks AS (SELECT unnest($wordsSqlDoc) AS w FROM documents),
      |v AS (SELECT DISTINCT w, substring(w, 1, 2) AS blk FROM toks
      |      WHERE length(w) >= 4 AND length(w) <= $MaxWordLen),
      |blocks AS (SELECT blk, COUNT(*) AS bn FROM v GROUP BY blk),
      |ok AS (SELECT v.* FROM v JOIN blocks USING (blk)
      |       WHERE bn <= $FuzzyBlockCap),
      |pairs AS (
      |  SELECT a.w AS wa, b.w AS wb
      |  FROM ok a JOIN ok b ON a.blk = b.blk AND a.w < b.w
      |    AND abs(length(a.w) - length(b.w)) <= 1
      |    AND levenshtein(a.w, b.w) = 1),
      |c1 AS (SELECT COUNT(*) AS n_vocab FROM v),
      |c2 AS (SELECT COUNT(*) AS n_blocks, MAX(bn) AS max_block,
      |         CAST(SUM(CASE WHEN bn > $FuzzyBlockCap THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_blocks_dropped
      |       FROM blocks),
      |c3 AS (SELECT COUNT(*) AS n_pairs,
      |         COALESCE(CAST(SUM(CAST('0x' || substring(md5(wa || '|' || wb),1,15) AS BIGINT)
      |           % 1000000007) AS BIGINT), 0) AS pair_checksum
      |       FROM pairs)
      |SELECT n_vocab, n_blocks, max_block, n_blocks_dropped, n_pairs, pair_checksum
      |FROM c1 CROSS JOIN c2 CROSS JOIN c3""".stripMargin

  // ----------------------------------------------- BPE merge training

  /** Three unrolled BPE merge-training rounds (Sennrich et al.,
    * arXiv:1508.07909): the vocabulary starts as space-separated
    * character sequences; each round counts adjacent symbol pairs
    * weighted by word frequency, picks the argmax pair (ties broken
    * lexicographically), and applies the merge EXHAUSTIVELY to every
    * word via six bounded sentinel-replace passes (one pass consumes
    * separators, so shared-separator runs need repeats; 6 passes cover
    * any run at MaxWordLen — see the in-loop comment). Per-pass
    * semantics are the same non-overlapping scan-and-continue Spark's
    * and DuckDB's `replace` share (pinned by TokenizerSpec on an
    * overlapping-run case), so the oracle replays the identical merge
    * replace-for-replace. Output: one row
    * per round — the learned merge rule, its count, and a checksum of
    * the entire post-merge vocabulary state (proving the rewrite, not
    * just the argmax, matches).
    *
    * Scale shape: everything after the corpus→(word, freq) collapse is
    * vocabulary-sized (the real-trainer trick, see object doc); each
    * round is one vocabulary-sized pair agg + a 1-row argmax broadcast
    * onto the vocabulary rewrite. Round states are cached so round k
    * never replays rounds < k, and the rule table the loop emits is
    * exactly what a production trainer checkpoints per merge. */
  def bpeTrain(s: SparkSession, dir: String): DataFrame =
    bpeTrainRules(
      Tables.documents(s, dir)
        .select(explode(words(col("text"))).as("raw"))
        .filter(length(col("raw")) >= 2 && length(col("raw")) <= MaxWordLen)
        .groupBy(col("raw")).agg(count(lit(1)).as("freq")),
      3)

  /** The lazy merge-training loop over an explicit (raw, freq)
    * vocabulary frame: one argmax round per census, constructed without
    * running a job. [[bpeTrain]] censuses it against the oracle; it is
    * the sequential reference [[bpeTrainRulesBatched]] must equal. */
  private[graft] def bpeTrainRules(vocab: DataFrame, nRounds: Int): DataFrame =
    bpeLoop(vocab, nRounds)._1.reduce(_ union _)

  /** Final merged vocabulary after `nRounds` merges: (raw, n_sym) — the
    * ENCODER table a trained tokenizer ships (word → symbol count here;
    * the symbols themselves ride `w` internally). */
  private[graft] def bpeEncodedVocab(vocab: DataFrame, nRounds: Int): DataFrame =
    bpeLoop(vocab, nRounds)._2
      .select(col("raw"), size(split(trim(col("w")), " ")).cast("long").as("n_sym"))

  /** The shared train loop: per-round rule rows plus the final
    * vocabulary state, `raw` carried through every rewrite. */
  private def bpeLoop(vocab: DataFrame, nRounds: Int): (Seq[DataFrame], DataFrame) = {
    import graft.core.Caches.TrackedOps
    require(nRounds > 0, s"rounds must be positive: $nRounds")
    val v0 = bpeSeed(vocab).trackedPersist()
    val rounds = (1 to nRounds).scanLeft((v0, Option.empty[DataFrame])) {
      case ((v, _), k) =>
        val pc = pairCensus(v)
        // exhaustion guard: when no pairs remain (every word fully
        // merged), the argmax would be EMPTY and the cross join below
        // would wipe the vocabulary for all later rounds. A sentinel
        // row (count −1, loses to any real pair) survives instead: its
        // pattern '  ' equals its replacement so the rewrite is a
        // no-op, and the emission filter below drops the sentinel row —
        // rounds past the learnable merges emit no rules.
        val sentinel = vocab.sparkSession.range(1)
          .select(lit("").as("pair"), lit(-1L).as("pair_count"))
        val best = pc.orderBy(col("pair_count").desc, col("pair")).limit(1)
          .unionByName(sentinel)
          .orderBy(col("pair_count").desc, col("pair")).limit(1)
        // EXHAUSTIVE merge application: one replace pass consumes the
        // separator space, so consecutive occurrences sharing it need
        // another pass (' a b a b ' -> ' ab a b ' -> ' ab ab '). Each
        // pass at least halves the unmerged occurrences of a run, and
        // MaxWordLen = 64 bounds any run at 32 occurrences, so 6 fixed
        // passes reach the fixpoint — mirrored replace-for-replace in
        // the oracle. Per-pass semantics are engine-identical
        // (TokenizerSpec pins the overlapping-run case).
        val mergedW = (1 to 6).foldLeft("w") { (acc, _) =>
          s"replace($acc, ' ' || pair || ' ', ' ' || replace(pair, ' ', '') || ' ')"
        }
        val vNext = v.crossJoin(best)
          .select(col("raw"), expr(mergedW).as("w"), col("freq"))
          .trackedPersist()
        val row = best
          .filter(col("pair_count") >= 0)
          .crossJoin(vNext.agg(sum(hashMod(col("w"))).as("vocab_checksum")))
          .select(lit(k.toLong).as("round"), col("pair"), col("pair_count"),
            col("vocab_checksum"))
        (vNext, Some(row))
    }
    (rounds.flatMap(_._2), rounds.last._1)
  }

  /** Round-0 state (raw, w, freq): every word spelled as single-character
    * symbols between spaces. Shared by both trainers, so the batched
    * fallback starts from the sequential trainer's exact state. */
  private def bpeSeed(vocab: DataFrame): DataFrame =
    vocab.select(col("raw"), concat(lit(" "),
      array_join(expr("transform(sequence(1, length(raw)), i -> substring(raw, i, 1))"), " "),
      lit(" ")).as("w"), col("freq"))

  /** Frequency-weighted adjacent-symbol pair census (pair, pair_count)
    * of a vocabulary state. */
  private def pairCensus(v: DataFrame): DataFrame =
    v.select(col("freq"), split(trim(col("w")), " ").as("syms"))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(1, size(syms) - 1), " +
          "i -> concat_ws(' ', element_at(syms, i), element_at(syms, i + 1)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("pair_count"))

  /** BATCHED merge training — the production dial toward 10k+ merge
    * vocabularies: instead of one argmax per census pass, take the top
    * `batchSize` pairs of ONE census and apply them in ONE vocabulary
    * rewrite — when that is provably equivalent to replaying them as
    * sequential argmax rounds. Real trainers at production merge counts
    * batch exactly like this (a census pass per merge is the cost
    * ceiling; SURVEY §9); the price is an equivalence obligation this
    * implementation checks rather than assumes:
    *
    *   - the batch rules must be pairwise symbol-disjoint INCLUDING
    *     their merged symbols ({aᵢ, bᵢ, aᵢbᵢ} sets disjoint) — merges
    *     then commute and leave each other's counts unchanged;
    *   - no batch rule may be SELF-ADJACENT (a = b): merging 'a a'
    *     creates pairs ('aa','aa') and ('aa','a') whose counts are
    *     bounded only by the batch pair's OWN count — which the
    *     maxTouch census below deliberately excludes — so a created
    *     pair can out-rank every later batch rule while maxTouch reads
    *     0 (vocab {aaaa:100, bc:10}: sequential round 2 picks
    *     ('aa aa',100), a naive batch would emit ('b c',10)). Such a
    *     batch is never provably independent here; it falls back;
    *   - 2·maxTouch < min(batch counts), where maxTouch is the census
    *     max over NON-batch pairs sharing any symbol with the batch:
    *     a merge can only create pairs like (x, ab) whose count is
    *     bounded by the old (x, a) count (every new occurrence sits in
    *     an old "x a b" context) and can only ADD to a pre-existing
    *     (x, ab) — both touch the batch's symbols, so their post-merge
    *     count is < 2·maxTouch < every batch count, and no created or
    *     touched pair can out-rank a later batch rule in the rounds the
    *     batch replaces. Untouched pairs were already out-ranked by the
    *     census order (count desc, pair asc — the argmax tie-break).
    *
    * A batch that fails the check falls back to the exact per-round
    * argmax for that step, so the rules are bit-identical to
    * [[bpeTrainRules]] by construction; at `batchSize` = 1 every pass
    * takes that argmax — the sequential trainer. The census/argmax is
    * read driver-side per batch — metadata-sized (batchSize rows + one
    * scalar), the boundary-collection stance, and exactly what
    * production trainers do each merge; the vocabulary itself never
    * leaves the cluster.
    *
    * Output: (round, pair, pair_count, final_checksum, pass) —
    * per-round rules with their census counts (equal to the sequential
    * counts whenever rules apply, per the argument above), one checksum
    * of the END vocabulary state, and the census pass that learned each
    * rule (rules sharing a pass were batch-applied; a pass of its own
    * is an argmax or a fallback). Intermediate per-round vocabulary
    * states deliberately don't exist on the batched path (that is the
    * point), so the sequential oracle compares the final state. */
  private[graft] def bpeTrainRulesBatched(vocab: DataFrame, nRounds: Int,
      batchSize: Int): DataFrame = {
    import graft.core.Caches.TrackedOps
    require(nRounds > 0 && batchSize > 0,
      s"rounds/batch must be positive: $nRounds/$batchSize")
    val spark = vocab.sparkSession
    import spark.implicits._
    var v = bpeSeed(vocab).trackedPersist()
    val rules = scala.collection.mutable.ArrayBuffer[(Long, String, Long, Long)]()
    var k = 1
    var pass = 0L
    var exhausted = false
    while (k <= nRounds && !exhausted) {
      val take = math.min(batchSize, nRounds - k + 1)
      // cached only when the independence check reads it a second time
      val pc = if (take > 1) pairCensus(v).trackedPersist() else pairCensus(v)
      val top = pc.orderBy(col("pair_count").desc, col("pair")).limit(take)
        .collect().map(r => (r.getString(0), r.getLong(1)))
      if (top.isEmpty) exhausted = true
      else {
        val applied: Array[(String, Long)] =
          if (top.length <= 1) top
          else {
            // {a, b, ab} per rule: disjointness makes merges commute and
            // keeps every batch rule's own count unchanged
            val triples = top.map { case (p, _) =>
              val cut = p.indexOf(' ')
              val (a, b) = (p.substring(0, cut), p.substring(cut + 1))
              Set(a, b, a + b)
            }
            val disjoint = triples.indices.forall(i =>
              (i + 1 until triples.length).forall(j =>
                (triples(i) intersect triples(j)).isEmpty))
            // a self-adjacent rule ('a a') creates pairs whose counts
            // are bounded by the rule's OWN count — invisible to the
            // non-batch maxTouch census — so it is never provably
            // independent inside a batch (scaladoc above)
            val selfAdjacent = top.exists { case (p, _) =>
              val cut = p.indexOf(' ')
              p.substring(0, cut) == p.substring(cut + 1)
            }
            val symbols = triples.flatten.toSeq
            val batchPairs = top.map(_._1).toSeq
            val maxTouch = pc
              .filter(!col("pair").isin(batchPairs: _*))
              .filter(substring_index(col("pair"), " ", 1).isin(symbols: _*) ||
                substring_index(col("pair"), " ", -1).isin(symbols: _*))
              .agg(max(col("pair_count"))).head() match {
                case r if r.isNullAt(0) => 0L
                case r => r.getLong(0)
              }
            val minBatch = top.last._2
            if (disjoint && !selfAdjacent && 2 * maxTouch < minBatch) top
            else top.take(1)
          }
        val mergedW = applied.foldLeft(col("w")) { case (acc, (p, _)) =>
          // the sequential trainer's 6-pass exhaustion per rule, with
          // literal Columns (corpus-derived pair text never meets expr())
          val m = p.replace(" ", "")
          (1 to 6).foldLeft(acc)((c, _) =>
            org.apache.spark.sql.functions.replace(
              c, lit(s" $p "), lit(s" $m ")))
        }
        v = v.select(col("raw"), mergedW.as("w"), col("freq")).trackedPersist()
        pass += 1
        applied.zipWithIndex.foreach { case ((p, c), i) =>
          rules += ((k + i.toLong, p, c, pass))
        }
        k += applied.length
      }
    }
    rules.toSeq.toDF("round", "pair", "pair_count", "pass")
      .crossJoin(v.agg(sum(hashMod(col("w"))).as("final_checksum")))
      .select("round", "pair", "pair_count", "final_checksum", "pass")
  }

  /** q_bpe_train_batched: [[bpeTrainRulesBatched]] at rounds = batch =
    * 3 over the corpus vocabulary, wrapped in a deferred stage (the
    * trainer reads its census argmaxes driver-side per batch, so the
    * wrap keeps query CONSTRUCTION job-free — rounds run when the query
    * executes, like the checkpoint-driven iterative queries). The
    * oracle replays the three merges SEQUENTIALLY — whichever branch
    * the independence check takes, the batched output must equal the
    * sequential replay; on a corpus whose top-3 interacts, that is the
    * fallback contract under test, and on one that doesn't, the
    * batched-apply equivalence argument itself. */
  def bpeTrainBatched(s: SparkSession, dir: String): DataFrame =
    graft.plans.DeferredIngest(s,
      "round BIGINT, pair STRING, pair_count BIGINT, final_checksum BIGINT") {
      bpeTrainRulesBatched(
        Tables.documents(s, dir)
          .select(explode(words(col("text"))).as("raw"))
          .filter(length(col("raw")) >= 2 && length(col("raw")) <= MaxWordLen)
          .groupBy(col("raw")).agg(count(lit(1)).as("freq")),
        3, 3)
        .select("round", "pair", "pair_count", "final_checksum")
    }

  /** One oracle round: pair census → argmax → vocabulary rewrite. */
  private def bpeRoundSql(k: Int): String = {
    val (p, c, b, vIn, vOut) = (s"p$k", s"c$k", s"b$k", s"v${k - 1}", s"v$k")
    s"""s$k AS (SELECT w, freq, string_split(trim(w), ' ') AS sy FROM $vIn),
      |$p AS (SELECT freq, unnest([sy[i] || ' ' || sy[i+1] for i in range(1, len(sy))]) AS pair
      |       FROM s$k WHERE len(sy) >= 2),
      |$c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count FROM $p GROUP BY pair),
      |$b AS (SELECT pair, pair_count FROM $c ORDER BY pair_count DESC, pair LIMIT 1),
      |$vOut AS (SELECT raw, ${
        (1 to 6).foldLeft("w") { (acc, _) =>
          s"replace($acc, ' ' || $b.pair || ' ', ' ' || replace($b.pair, ' ', '') || ' ')"
        }} AS w, freq
      |       FROM $vIn, $b),
      |k$k AS (SELECT CAST($k AS BIGINT) AS round, pair, pair_count,
      |  (SELECT CAST(SUM(CAST('0x' || substring(md5(w),1,15) AS BIGINT) % 1000000007) AS BIGINT)
      |   FROM $vOut) AS vocab_checksum FROM $b)""".stripMargin
  }

  /** The shared oracle CTE prefix: corpus → vocabulary → three merge
    * rounds with `raw` carried through every rewrite. */
  private val bpeCtes =
    s"""WITH toks AS (SELECT unnest($wordsSqlDoc) AS raw FROM documents),
      |vf AS (SELECT raw, COUNT(*) AS freq FROM toks
      |       WHERE length(raw) >= 2 AND length(raw) <= $MaxWordLen GROUP BY raw),
      |v0 AS (SELECT raw, ' ' || array_to_string([raw[i+1] for i in range(0, length(raw))], ' ') || ' ' AS w,
      |         freq FROM vf),
      |${bpeRoundSql(1)},
      |${bpeRoundSql(2)},
      |${bpeRoundSql(3)}""".stripMargin

  private val bpeTrainSql =
    s"""$bpeCtes
      |SELECT * FROM k1 UNION ALL SELECT * FROM k2 UNION ALL SELECT * FROM k3""".stripMargin

  /** q_bpe_train_batched oracle: the SAME three sequential rounds, with
    * the per-round vocabulary checksums replaced by one final-state
    * checksum (k3's) — the only state the batched path materializes. */
  private val bpeTrainBatchedSql =
    s"""$bpeCtes
      |SELECT round, pair, pair_count,
      |  (SELECT vocab_checksum FROM k3) AS final_checksum
      |FROM (SELECT * FROM k1 UNION ALL SELECT * FROM k2
      |      UNION ALL SELECT * FROM k3)""".stripMargin

  // ----------------------------------------------- BPE corpus encoding

  /** BPE ENCODING of the corpus with the learned merges — the serve leg
    * of [[bpeTrain]]'s train leg: every document's words encode through
    * the merged vocabulary ([[bpeEncodedVocab]] after 3 rounds) and the
    * census reports, per language, the corpus-level compression the
    * learned rules bought: words, characters in, symbols out, scaled
    * ratio. Words outside the trained range (length 1, or past
    * [[MaxWordLen]]) encode at one symbol per character — the honest
    * untrained fallback.
    *
    * Scale shape: the encoder table is vocabulary-sized and joins the
    * corpus token stream by word equality (AQE broadcasts it while it
    * fits); encoding itself never re-runs the merge scan — documents
    * inherit their words' symbol counts. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), explode(words(col("text"))).as("raw"))
    val vocab = toks
      .filter(length(col("raw")) >= 2 && length(col("raw")) <= MaxWordLen)
      .groupBy(col("raw")).agg(count(lit(1)).as("freq"))
    toks.join(bpeEncodedVocab(vocab, 3), Seq("raw"), "left")
      .select(col("doc_id"), col("lang"), length(col("raw")).cast("long").as("n_chars"),
        coalesce(col("n_sym"), length(col("raw")).cast("long")).as("n_sym"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("n_chars")).as("chars_total"),
        sum(col("n_sym")).as("syms_total"),
        min(col("doc_id")).as("min_doc"))
      .select(col("lang"), col("n_words"), col("chars_total"), col("syms_total"),
        expr("(1000 * syms_total) DIV chars_total").as("ratio_pm"),
        col("min_doc"))
  }

  private val bpeEncodeSql =
    s"""$bpeCtes,
      |enc AS (SELECT raw, len(string_split(trim(w), ' ')) AS n_sym FROM v3),
      |toksd AS (
      |  SELECT doc_id, lang, unnest($wordsSqlDoc) AS raw FROM documents),
      |j AS (
      |  SELECT doc_id, lang, length(raw) AS n_chars,
      |    COALESCE(enc.n_sym, length(raw)) AS n_sym
      |  FROM toksd LEFT JOIN enc USING (raw))
      |SELECT lang, COUNT(*) AS n_words,
      |  CAST(SUM(n_chars) AS BIGINT) AS chars_total,
      |  CAST(SUM(n_sym) AS BIGINT) AS syms_total,
      |  CAST((1000 * SUM(n_sym)) // SUM(n_chars) AS BIGINT) AS ratio_pm,
      |  MIN(doc_id) AS min_doc
      |FROM j GROUP BY lang""".stripMargin

  val defs: Seq[GQuery] = Seq(
    GQuery("q_bpe_pairs", bpePairs, Some(bpePairsSql)),
    GQuery("q_bpe_encode", bpeEncode, Some(bpeEncodeSql)),
    GQuery("q_bpe_train", bpeTrain, Some(bpeTrainSql)),
    GQuery("q_bpe_train_batched", bpeTrainBatched, Some(bpeTrainBatchedSql)),
    GQuery("q_fuzzy_match", fuzzyMatch, Some(fuzzyMatchSql)))
}
