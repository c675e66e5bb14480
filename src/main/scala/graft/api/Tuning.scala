package graft.api

/** SURVEY §10's 100 TB posture as executable formulas — the sizing rules
  * the engine's plans already apply in-plan (⌈√n⌉ IVF cells, the Bloom
  * bit floor, the key-skew salt factor) plus the two cluster-shape knobs
  * a deployment sets before the first job. Each formula that has an
  * in-plan counterpart is spec-pinned EQUAL to it (TuningSpec), so the
  * advisory surface cannot drift from what the queries actually do —
  * the semDedup-drift lesson applied to scalars.
  *
  * All functions are total, deterministic, and integer-exact; none
  * touches Spark — they are the numbers you feed INTO a session
  * (`spark.sql.shuffle.partitions`, `files.maxPartitionBytes`) or into
  * the operator parameters (bits, cells, caps).
  */
object Tuning {

  /** Shuffle partition count for a stage expected to shuffle
    * `shuffleBytes`: ceil(bytes / targetPartitionBytes), floored at
    * one partition per available core (idle cores are pure waste) —
    * the `spark.sql.shuffle.partitions` setting perfbench fixes at
    * nproc for local[nproc] and a 1000-executor run derives from its
    * input census.
    * AQE coalesces over-provisioned partitions at runtime; it cannot
    * invent parallelism that was never provisioned, so the floor is
    * the side to get right. */
  def shufflePartitions(shuffleBytes: Long, totalCores: Int,
      targetPartitionBytes: Long = 128L << 20): Int = {
    require(shuffleBytes >= 0 && totalCores > 0 && targetPartitionBytes > 0)
    // the byte-driven term is the reference-parity sizing rule
    // (Boundaries.suggestPartitions at ratio 1 — pass the inflation
    // ratio there when intermediate data outgrows input)
    math.max(totalCores,
      Boundaries.suggestPartitions(shuffleBytes, 1.0, targetPartitionBytes))
  }

  /** Scan split target so a task's input fits comfortably in executor
    * memory with room for the shuffle write buffers: memory/slot ÷ 4
    * (decode expansion + sort buffers), clamped to [16 MB, 1 GB] —
    * the `spark.sql.files.maxPartitionBytes` companion of
    * [[shufflePartitions]]. */
  def maxPartitionBytes(executorMemBytes: Long, tasksPerExecutor: Int): Long = {
    require(executorMemBytes > 0 && tasksPerExecutor > 0)
    val perTask = executorMemBytes / tasksPerExecutor / 4
    math.max(16L << 20, math.min(1L << 30, perTask))
  }

  /** Bucket count for a [[Layout.bucketize]] layout: tableBytes ÷
    * targetBucketBytes (default 1 GB/bucket — a bucket is one file and
    * one task's join input, so it wants the same comfortable-task
    * sizing as [[maxPartitionBytes]] writ large), rounded UP to a power
    * of two. The power-of-two rounding is the co-join insurance: Spark
    * can coalesce a 2^k-bucket side onto a 2^j-bucket side (one divides
    * the other) and still join exchange-free, so tables bucketed at
    * different growth epochs keep co-locating instead of forcing a
    * relayout. The q_bucketed_join demo runs 8 buckets at test SF;
    * 100 TB at 1 GB/bucket is 2^17 — file count stays equal to bucket
    * count because the facade pre-repartitions on the key. */
  def bucketCount(tableBytes: Long, targetBucketBytes: Long = 1L << 30): Int = {
    require(tableBytes > 0 && targetBucketBytes > 0)
    val needed = (tableBytes + targetBucketBytes - 1) / targetBucketBytes
    Integer.highestOneBit(
      math.min(needed, 1L << 30).toInt) match {
      case h if h >= needed => h
      case h => h << 1
    }
  }

  /** LSH signature width for a target mean bucket occupancy:
    * ceil(log2(n / occupancy)), floored at 1 bit. Mean occupancy is
    * n / 2^bits by construction (the lsh_occupancy telemetry measures
    * exactly this law: 2000 vectors at 6 bits → 31.25), so SURVEY §10's
    * "6 bits at test SF → 16+ at 100 TB" is this formula evaluated at
    * both scales. Recall lost to narrower buckets is bought back with
    * tables or Hamming probes ([[graft.api.Vectors.lshTopK]]'s dial). */
  def lshBits(corpusRows: Long, targetOccupancy: Long = 32L): Int = {
    require(corpusRows > 0 && targetOccupancy > 0)
    val buckets = (corpusRows + targetOccupancy - 1) / targetOccupancy
    math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, buckets - 1)))
  }

  /** IVF / SemDeDup coarse cell count: ⌈√n⌉ — the k-grows-with-n
    * contract `Corpus.semDedup` derives IN-PLAN from a 1-row count
    * (expected cell size √n keeps total in-cell pair volume O(n^1.5)).
    * TuningSpec pins this equal to the plan's own derivation. */
  def ivfCells(corpusRows: Long): Int = {
    require(corpusRows > 0)
    math.ceil(math.sqrt(corpusRows.toDouble)).toLong.min(Int.MaxValue).toInt
  }

  /** PQ centroids per subspace codebook: the production value is 256
    * (one byte per code — the k* = 2⁸ the PQ paper standardizes on, and
    * the ann_pq_256 telemetry dial), floored to ⌈n/8⌉ when the corpus
    * itself is smaller than 8 training points per centroid — fewer
    * centroids than that and Lloyd cells go empty faster than they
    * refine. The codebook broadcast is m × centroids × subDim longs
    * (128 kB at 256×8×8) at ANY corpus size, so unlike lshBits/ivfCells
    * this dial does NOT grow with n: 256 is right at 2 k vectors and at
    * 100 TB alike; what grows is only training cost, one corpus pass per
    * Lloyd round. */
  def pqCentroids(corpusRows: Long): Int = {
    require(corpusRows > 0)
    math.min(256L, (corpusRows + 7) / 8).toInt
  }

  /** SimHash fingerprint width for the Manku/Jain/Das Sarma 20-combo
    * probing scheme (WWW'07): 32 bits while the scheme's RANDOM
    * candidate load stays bounded, 64 past that — the width axis LSH
    * already has as [[lshBits]]. At width w split into 6 near-equal
    * blocks, a 3-block combo key carries at least minCombo bits (15 at
    * w = 32: 5+5+5; 31 at w = 64: 10+10+11), so expected random
    * candidate pairs per document ≈ 20·n/2^minCombo. The 32-bit
    * fingerprint holds while 20·n/2^15 ≤ target (default 64
    * candidates/doc → n ≤ ~105k docs); beyond that the 64-bit width
    * cuts the collision constant by ~2^16 AND defers fingerprint-space
    * saturation — identical-fingerprint cliques grow ∝ n²/2^w, and each
    * clique re-derives its pairs on all 20 combo keys, so at 2^32 the
    * clique debt itself turns quadratic past ~10M docs. 64 is Manku's
    * production width. The 32-bit oracle rows (q_dedup_simhash /
    * q_simhash_pairs / q_simhash_calibration) deliberately pin the
    * test-scale end for DuckDB bit-parity; the simhash_tuned gate
    * telemetry ([[graft.BenchGate]]) measures THIS formula end-to-end. */
  def simBits(corpusRows: Long, targetCandidatesPerDoc: Long = 64L): Int = {
    require(corpusRows > 0 && targetCandidatesPerDoc > 0)
    if (20L * corpusRows <= (targetCandidatesPerDoc << 15)) 32 else 64
  }

  /** Salt factor for one hot key: ceil(keyRows · nKeys / totalRows) —
    * the number of uniform key-loads the key weighs, the exact integer
    * the oracle-checked q_key_skew emits per head key and
    * [[Salting.adaptiveSaltedJoin]] applies per hot key. */
  def saltFactor(keyRows: Long, totalRows: Long, nKeys: Long): Long = {
    require(keyRows >= 0 && totalRows > 0 && nKeys > 0)
    (keyRows * nKeys + totalRows - 1) / totalRows
  }

  /** The Jaccard similarity at which a (bands × rowsPerBand) MinHash/LSH
    * index flips from mostly-missing to mostly-catching pairs — the
    * S-curve threshold t ≈ (1/b)^(1/r) (Leskovec/Rajaraman/Ullman,
    * Mining of Massive Datasets §3.4.2). The shipped dedup index is
    * (4 bands × 2 rows) → t ≈ 0.5: exactly the regime the measured
    * calibration curve shows (agreement ≥ 7 of 8 ⇒ exact Jaccard 0.21,
    * 8 of 8 ⇒ 0.88 — the flip brackets the formula's threshold). More
    * bands catch lower-similarity pairs at more candidate volume; longer
    * bands sharpen the cutoff. */
  def minhashBandThreshold(bands: Int, rowsPerBand: Int): Double = {
    require(bands > 0 && rowsPerBand > 0)
    math.pow(1.0 / bands, 1.0 / rowsPerBand)
  }

  /** Count-Min width for a target additive error of `relErr` × F1
    * (stream mass): w = ⌈e / relErr⌉ — the standard CMS guarantee
    * (error ≤ e·F1/w with probability 1 − δ at depth ⌈ln(1/δ)⌉). The
    * shipped sketches run w = 1024 (relErr ≈ 0.27%) × depth 3
    * (δ ≈ 5%); q_cms_join_size's measured overcount sits at the
    * expected F1a·F1b/w collision mass, the join-size face of the same
    * bound. */
  def cmsWidth(relErr: Double): Int = {
    require(relErr > 0 && relErr < 1)
    math.ceil(math.E / relErr).toInt
  }

  /** Count-Min depth for failure probability `delta`: ⌈ln(1/δ)⌉. */
  def cmsDepth(delta: Double): Int = {
    require(delta > 0 && delta < 1)
    math.ceil(math.log(1.0 / delta)).toInt
  }

  /** Bloom filter size in bits for a build side of `keys`:
    * max(16384, 16·keys) with 3 hashes → FP ≈ 0.5% at any corpus size —
    * the floor and per-key width q_bloom_membership derives in-plan
    * (TuningSpec pins the constants equal). */
  def bloomBits(keys: Long): Long = {
    require(keys >= 0)
    math.max(graft.queries.Analytics.BloomMinBits,
      graft.queries.Analytics.BloomBitsPerKey * keys)
  }

  /** Compaction target for a snapshot-table version
    * (`SnapshotStore.compact`): files of ~`targetFileBytes` (default
    * 1 GB — parquet's sweet spot: row groups stay whole, scan tasks
    * amortize open cost, and the file count at 100 TB is ~10^5, well
    * inside listing/manifest comfort). Run it when the live file count
    * exceeds ~4× this target (the q_compaction_plan signal) — streaming
    * appends land one small file set per batch, and scan task count
    * tracks file count until compaction folds them. */
  def compactTargetFiles(tableBytes: Long,
      targetFileBytes: Long = 1L << 30): Int = {
    require(tableBytes > 0 && targetFileBytes > 0)
    math.max(1L, (tableBytes + targetFileBytes - 1) / targetFileBytes)
      .min(1L << 24).toInt
  }

  /** Snapshot-table retention depth: how many trailing versions VACUUM
    * keeps. One version per streaming batch accumulates a manifest per
    * trigger — at a 1-minute trigger, ~1440/day — and each retained
    * version pins its exclusive files on disk; `days × versionsPerDay`
    * is the time-travel window a deployment actually promises. The
    * floor of 2 mirrors IndexMaintenance.prune's replay argument: never
    * vacuum up to the in-flight edge. */
  def snapshotRetainVersions(days: Int, versionsPerDay: Long = 1440L): Long = {
    require(days >= 0 && versionsPerDay > 0)
    math.max(2L, days * versionsPerDay)
  }
}
