package graft

import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.{Caches, Tables}
import graft.queries.{Similarity, TextPipeline}

/** Gate on the index-quality telemetry at sf0.1: recall, NDCG, IVF cost,
  * MinHash calibration, the tuned LSH occupancy law and the tuned SimHash
  * pair count.
  *
  * BENCH_r07 recorded recall@3 per ANN variant and the MinHash
  * calibration curve for the first time; this object turns those numbers
  * from "visible" into "enforced": [[violations]] measures them on a
  * corpus and every value must sit inside a tolerance band around its
  * recorded baseline (`QualityGateSpec` runs it on sf0.1). An IVF
  * codebook or probe-count regression FAILS the gate instead of silently
  * shifting a telemetry field — the same stance the reference takes on
  * partition quality, which BoundaryDecider
  * (`mapreduce/workers/boundarydecider/BoundaryDecider.cc:22-169`)
  * actively enforces rather than merely reports.
  *
  * The baseline is tied to the sf0.1 corpus: recall and the calibration
  * posterior are corpus statistics, so the bands only hold there. New
  * telemetry keys (e.g. a new index variant) pass freely and become the
  * next round's baseline; a DISAPPEARED baselined key is a violation —
  * deleting an index is a regression too.
  */
object BenchGate {

  /** Mean recall@3 vs exact brute force at sf0.1 — r7 keys from
    * BENCH_r07.json; the r8/r9 index variants baselined from the
    * round-9 sweeps (two independent runs agreed on every value). */
  val recallBaseline: Map[String, Double] = Map(
    "ann_ivf" -> 0.75,
    "ann_ivf_nprobe1" -> 0.5833333333333334,
    "ann_ivf_nprobe4" -> 0.8666666666666667,
    "ann_ivf_trained" -> 0.7833333333333333,
    // the production cell dial: ceil(sqrt(n)) cells at constant
    // nprobe 8 (candidates ∝ 8·sqrt(n), sublinear) — round-10 sf0.1
    "ann_ivf_sqrtn" -> 1.0,
    "ann_lsh" -> 0.06666666666666667,
    "ann_lsh_multi" -> 0.23333333333333334,
    "ann_lsh_12bit" -> 0.0,
    "ann_lsh_12bit_multi" -> 0.15,
    "ann_lsh_multiprobe" -> 0.2833333333333333,
    "ann_pq" -> 0.1,
    "ann_pq_trained" -> 0.16666666666666666,
    // the production dial (256 centroids, 3 Lloyd rounds; _refined adds
    // the exact top-10 re-rank), baselined from the round-10 sf0.1 sweep
    "ann_pq_256" -> 0.2833333333333333,
    "ann_pq_256_refined" -> 0.5833333333333334,
    // the Tuning-dial keys (round-11 sf0.1 sweep): lshBits(n)=6 with
    // the production (tables=4, hamming=1) repair; pqCentroids(n)=188
    // with exact top-10 refine — the executable formulas measured
    // end-to-end, not just their static test-dial cousins
    "ann_lsh_tuned" -> 0.7,
    "ann_pq_tuned" -> 0.5333333333333333,
    "ann_ivfpq" -> 0.16666666666666666)
  val recallTol: Double = 0.05

  /** Exact shingle-Jaccard posterior per MinHash agreement level,
    * BENCH_r07.json at sf0.1. Gated at agreement ≥ 7 only — below that
    * the posterior is the corpus noise floor (~0.05), dominated by
    * selection rather than the estimator. */
  val calibBaseline: Map[Long, Double] = Map(
    7L -> 0.20569867291178767,
    8L -> 0.8848012470771629)
  val calibTol: Double = 0.1

  /** Mean candidates scored per query at each IVF nprobe level, sf0.1 —
    * the COST half of the nprobe dial (the recall half is the
    * ann_ivf_nprobe* keys above). Deterministic given the corpus (no
    * sampling anywhere in the plan), so the band is tight and relative:
    * a collapsed-cell or assignment regression inflates candidates long
    * before it dents recall. */
  val ivfCostBaseline: Map[Long, Double] = Map(
    1L -> 249.35,
    2L -> 497.95,
    4L -> 982.6)
  val ivfCostRelTol: Double = 0.05

  /** Mean NDCG@3 ppm per index variant vs brute truth at sf0.1 —
    * integer-exact and fully deterministic (pinned discount ladder, no
    * sampling), so the band is essentially exact: rank-order drift in
    * probe sequencing or tie-breaks trips it at the first ppm. */
  val ndcgBaseline: Map[String, Double] = Map(
    "ann_ivf" -> 849750.7,
    "ann_ivf_nprobe4" -> 930125.4,
    "ann_lsh_multi" -> 281250.85)
  val ndcgTol: Double = 0.5

  /** The lshBits(n) dial law: bits = ⌈log2⌈n/32⌉⌉ puts the raw bucket
    * load n/2^bits in (16, 32]; measured mean occupancy (n / OCCUPIED
    * buckets) sits at or just above that, so the band is (16, 40] —
    * scale-invariant, enforced at every corpus size rather than pinned
    * to one corpus like the recall baselines. */
  val occTunedLow = 16.0
  val occTunedHigh = 40.0

  /** The simBits(n) dial measured end-to-end at sf0.1: width 32 (the
    * dial's test-scale end — 5,000 docs sit under the ~105k crossover)
    * and the exact Hamming-≤3 pair count at that width. Everything in
    * the pipeline is deterministic (md5-derived word hashes, integer
    * votes, exact bit_count), so the band is EXACT equality — any
    * drift in tokenizer, hash, block tables, or combo enumeration
    * trips it at the first pair. Banked from the round-14 sf0.1 sweep
    * (two runs agreed). */
  val simTunedBaseline: (Long, Long) = (32L, 129158L)

  /** Violations of the tolerance bands; empty = gate passes. */
  def check(recall: Map[String, Double], calib: Map[Long, Double],
      ivfCost: Map[Long, Double],
      ndcg: Map[String, Double] = Map.empty,
      occTuned: Option[(Long, Double)] = None,
      simTuned: Option[(Long, Long)] = None): Seq[String] = {
    val r = recallBaseline.toSeq.sortBy(_._1).flatMap { case (k, base) =>
      recall.get(k) match {
        case None => Some(s"recall[$k] missing (baseline $base)")
        case Some(v) if v.isNaN || (v - base).abs > recallTol =>
          Some(f"recall[$k]=$v%.4f outside +-$recallTol%.2f of baseline $base%.4f")
        case _ => None
      }
    }
    val c = calibBaseline.toSeq.sortBy(_._1).flatMap { case (k, base) =>
      calib.get(k) match {
        case None => Some(s"minhash_calibration[$k] missing (baseline $base)")
        case Some(v) if v.isNaN || (v - base).abs > calibTol =>
          Some(f"minhash_calibration[$k]=$v%.4f outside +-$calibTol%.2f of baseline $base%.4f")
        case _ => None
      }
    }
    val ic = ivfCostBaseline.toSeq.sortBy(_._1).flatMap { case (k, base) =>
      ivfCost.get(k) match {
        case None => Some(s"ivf_cost[$k] missing (baseline $base)")
        case Some(v) if v.isNaN || (v - base).abs > base * ivfCostRelTol =>
          Some(f"ivf_cost[$k]=$v%.2f outside +-${ivfCostRelTol * 100}%.0f%% of baseline $base%.2f")
        case _ => None
      }
    }
    val nd = ndcgBaseline.toSeq.sortBy(_._1).flatMap { case (k, base) =>
      ndcg.get(k) match {
        case None => Some(s"ndcg[$k] missing (baseline $base)")
        case Some(v) if v.isNaN || (v - base).abs > ndcgTol =>
          Some(f"ndcg[$k]=$v%.2f outside +-$ndcgTol%.1f ppm of baseline $base%.2f")
        case _ => None
      }
    }
    val ot = occTuned match {
      // absent-when-not-claimed passes freely, like every other
      // non-baselined telemetry family (the r11 regression hard-failed
      // every caller without the key, breaking the gate's own contract);
      // [[violations]] ALWAYS measures the key and additionally applies
      // [[requireOccTuned]] so its own run cannot silently drop it
      case None => Nil
      case Some((bits, mean)) if mean.isNaN ||
          mean <= occTunedLow || mean > occTunedHigh =>
        Seq(f"lsh_occupancy_tuned mean=$mean%.2f at bits=$bits outside " +
          f"($occTunedLow%.0f, $occTunedHigh%.0f] — the lshBits(n) dial law broke")
      case _ => Nil
    }
    val st = simTuned match {
      // absent-when-not-claimed passes freely (same contract as
      // occTuned); [[violations]] applies [[requireSimTuned]]
      case None => Nil
      case Some(v) if v != simTunedBaseline =>
        Seq(s"simhash_tuned (bits, n_pairs)=$v != banked " +
          s"$simTunedBaseline — the simBits(n) dial or the pair " +
          "pipeline drifted (everything in it is deterministic)")
      case _ => Nil
    }
    r ++ c ++ ic ++ nd ++ ot ++ st
  }

  /** Missing-when-expected check scoped to [[violations]]' OWN run, the
    * [[requireOccTuned]] twin for the SimHash width dial. */
  def requireSimTuned(simTuned: Option[(Long, Long)]): Seq[String] =
    simTuned match {
      case None => Seq("simhash_tuned missing from the gate's own telemetry " +
        s"(the simBits(n) dial must measure exactly $simTunedBaseline " +
        "at sf0.1)")
      case Some(_) => Nil
    }

  /** Missing-when-expected check scoped to [[violations]]' OWN run: it
    * measures lsh_occupancy_tuned every time, so absence there means the
    * tuned-dial sweep silently vanished — a regression [[check]] must
    * not excuse for the producer even though it passes for arbitrary
    * telemetry consumers. */
  def requireOccTuned(occTuned: Option[(Long, Double)]): Seq[String] =
    occTuned match {
      case None => Seq("lsh_occupancy_tuned missing from the gate's own " +
        s"telemetry (the lshBits(n) law must measure in ($occTunedLow, " +
        s"$occTunedHigh])")
      case Some(_) => Nil
    }

  /** One violation per query that threw: a failed query is a broken
    * query at every scale, so this check applies off sf0.1 too, where
    * the telemetry bands do not. */
  def requireNoFailures(failed: Seq[String]): Seq[String] =
    failed.map(q => s"headline $q failed")

  /** The whole gate on the corpus at `dir`: measures every gated
    * telemetry family, untimed, and returns the violations (empty =
    * pass). Each query's tracked caches are released after it; a query
    * that throws is named through [[requireNoFailures]], and its missing
    * keys fail [[check]] as well. The corpus count the SimHash width dial
    * needs is one column-pruned scan. */
  def violations(spark: SparkSession, dir: String): Seq[String] = {
    val failed = Seq.newBuilder[String]
    def measure[A](name: String)(body: => A): Option[A] =
      try Some(body)
      catch { case NonFatal(e) => failed += s"$name (${e.getMessage})"; None }
      finally Caches.release()
    def pairs[K](df: DataFrame, value: Int): Map[K, Double] =
      df.collect().map(r => r.getAs[K](0) -> r.getDouble(value)).toMap
    val recall = measure("recallSummary")(
      pairs[String](Similarity.recallSummary(spark, dir), 1))
    val ndcg = measure("ndcgSummary")(
      pairs[String](Similarity.ndcgSummary(spark, dir), 1))
    val calib = measure("minhashCalibration")(
      pairs[Long](TextPipeline.minhashCalibration(spark, dir), 4))
    val occTuned = measure("lshOccupancyTuned") {
      val r = Similarity.lshOccupancyTuned(spark, dir).head()
      (r.getLong(0), r.getDouble(3))
    }
    val ivfCost = measure("ivfProbeCost")(
      pairs[Long](Similarity.ivfProbeCost(spark, dir), 1))
    val nDocs = measure("documents count")(
      Tables.documents(spark, dir).select("doc_id").count())
    val simTuned = nDocs.flatMap(n => measure("simhashTuned") {
      val r = TextPipeline.simhashTuned(spark, dir, n).head()
      (r.getLong(0), r.getLong(1))
    })
    requireNoFailures(failed.result()) ++
      check(recall.getOrElse(Map.empty), calib.getOrElse(Map.empty),
        ivfCost.getOrElse(Map.empty), ndcg.getOrElse(Map.empty), occTuned,
        simTuned) ++
      requireOccTuned(occTuned) ++
      requireSimTuned(simTuned)
  }
}
