package graft.tune

/** The sized-by-data knob family — one module for every constant that
  * must grow with the corpus it protects.
  *
  * Three scale bugs across rounds 9–11 were the SAME failure dressed
  * in different operators: a constant that was right at the scale it
  * was tuned on and quadratic-or-collapsing one decade up —
  *
  *  - fixed 4-bit sign-LSH keys: 16 buckets turned 200k vectors into
  *    1.25 G candidate pairs (embedding near-dup, round 9);
  *  - fixed 4-block SimHash banding: candidates grow n²/2¹⁶, the
  *    graded row went 39× for a 13.5× decade (round 11);
  *  - fixed PQ rerank shortlist of 100: recall@10 collapsed 10/10 →
  *    0–3/10 at 2 M vectors because the DISTRACTOR count is linear in
  *    n while the shortlist wasn't (round 11, sf100 sweep).
  *
  * The shared fix — derive the constant from a count of the data,
  * monotone non-decreasing in n, clamped to the range where the
  * mechanism itself works — is the API here, so the next operator
  * gets it by default instead of rediscovering the trap at the next
  * decade. The count the knob needs is one column-pruned scan, noise
  * next to the join/search it right-sizes.
  *
  * Contract (pinned by AdaptiveKnobsSpec for every knob): the sized
  * value is monotone non-decreasing in n, stays inside [lo, hi], and
  * equals the historical per-operator formulas bit-for-bit (the graded
  * rows q_simhash_fast / q_embed_neardup_adaptive / q_pq_recall /
  * q_ivfpq_recall all ride on these curves).
  */
object AdaptiveKnobs {

  /** A data-sized knob: the unclamped sizing curve `raw` wrapped in
    * the [lo, hi] clamp, with the bounds exposed so the property spec
    * (and the next operator's author) can see them. Negative n is
    * treated as 0 — a knob sized from a count can never see one, but
    * the clamp must not amplify a caller bug into a negative width.
    */
  final case class Sized(lo: Int, hi: Int, raw: Long => Int) extends (Long => Int) {
    require(lo <= hi, s"knob bounds inverted: [$lo, $hi]")
    def apply(n: Long): Int =
      math.min(hi, math.max(lo, raw(math.max(0L, n))))
  }

  /** PQ ADC rerank shortlist (graft.search.ProductQuant): a constant
    * 1/2000 fraction of n, floored at max(100, 5k). Quantization error
    * is scale-free but the number of distractors whose ADC score beats
    * a true neighbor's grows linearly with n — so the shortlist must
    * too. Measured anchors (PqProbe — BASELINE.md, probe source at
    * commit a311a59 — m=16 ksub=256): 200k → 100
    * holds recall@10 = 10/10; at 2 M the fixed 100 collapses to 0–3/10
    * while n/2000 = 1000 restores 10/10 on every probe.
    */
  def shortlist(k: Int = 10): Sized =
    // min BEFORE toInt: the raw fraction overflows Int past n ≈ 4.3e12
    // (a trillion-row corpus is a 100 TB reality) — the legacy formula
    // wrapped negative there and the clamp floored it to 100, exactly
    // the collapse the knob exists to prevent. Caught by the
    // AdaptiveKnobsSpec monotonicity sweep.
    Sized(math.max(100, 5 * k), Int.MaxValue, n => math.min(n / 2000L, Int.MaxValue.toLong).toInt)

  /** SimHash candidate-join block count (graft.dedup.Dedup): the b
    * minimizing the join's expected row volume under a uniform
    * signature model —
    *
    *   cost(b) = n · C(b, d)                    (exploded join input)
    *           + C(n, 2) · Σ_subsets 2^−width   (expected FP collisions)
    *
    * where d = maxHamming and candidates key on every (b−d)-subset of
    * b near-equal segments (pigeonhole keeps recall exact: ≤ d
    * differing bits touch ≤ d segments). More blocks widen the key
    * (~(b−d)·64/b bits) but explode each doc into C(b, d) keys, so the
    * optimum moves up slowly with n: 5k docs → 4 blocks (the legacy
    * banding), 5 M → 5. The search is bounded at d+8 — C(d+8, d)
    * explosion already dominates any realistic n there.
    */
  def simHashBlocks(maxHamming: Int = 3): Sized = {
    val d = maxHamming
    def cost(n: Long)(b: Int): Double = {
      val bounds = (0 to b).map(i => i * 64 / b)
      val widths = (0 until b).map(i => bounds(i + 1) - bounds(i))
      // combinations over INDICES: .combinations on the widths seq
      // would merge equal widths into one multiset and undercount
      val combos = (0 until b).combinations(b - d).toSeq
      val explode = n.toDouble * combos.size
      val fp = combos
        .map(ss => n.toDouble * (n - 1) / 2 * math.pow(2.0, -ss.map(widths).sum))
        .sum
      explode + fp
    }
    Sized(d + 1, math.min(d + 8, 64), n => (d + 1 to math.min(d + 8, 64)).minBy(cost(n)))
  }

  /** Training-order shard count (graft.text.Sampling.trainOrder):
    * ceil(n / targetShardRows), so each shard's window sort stays a
    * bounded spill-safe run no matter the corpus size. A fixed shard
    * count is the inverse of the usual trap — not quadratic but a
    * FUNNEL: 8 shards over a trillion rows is 8 sort runs of 125 G
    * rows each, when the whole point of sharding is that growing the
    * corpus (or the cluster) just means more shards. Default target is
    * 2^20 rows ≈ a few hundred MB of packed text per shard — the
    * conventional training-shard size; ceil keeps every non-empty
    * corpus at ≥1 shard. Capped at 2^24 shards (16.7 M files is
    * already past any real object-store listing budget).
    */
  def trainShards(targetShardRows: Long = 1L << 20): Sized = {
    require(targetShardRows > 0, "targetShardRows must be positive")
    Sized(
      1, 1 << 24,
      // ceil without the n + target - 1 idiom: that sum overflows Long
      // at the top of the domain (caught by this knob's own anchor spec)
      n => {
        val ceilDiv = n / targetShardRows + (if (n % targetShardRows > 0) 1L else 0L)
        math.min(ceilDiv, (1 << 24).toLong).toInt
      })
  }

  /** A Long-valued sized knob — same contract as [[Sized]] for
    * thresholds that are themselves counts (and can therefore outgrow
    * Int on a trillion-token corpus).
    */
  final case class SizedLong(lo: Long, hi: Long, raw: Long => Long) extends (Long => Long) {
    require(lo <= hi, s"knob bounds inverted: [$lo, $hi]")
    def apply(n: Long): Long =
      math.min(hi, math.max(lo, raw(math.max(0L, n))))
  }

  /** Hot-key threshold for the broadcast-head / shuffle-tail hybrid
    * join (graft.text.TextAnalysis unigram/bigram cross-entropy):
    * ceil(n / targetHeadTypes), floored at the historical 1000. Keys
    * with count ≥ threshold number at most n / threshold ≤
    * targetHeadTypes, so the BROADCAST side is bounded in corpus size
    * by construction — a fixed threshold's head is worst-case
    * n / 1000 types, which outgrows any broadcast at trillions of
    * tokens (the round-13 verdict's q_bigram_logprob watch item).
    * Default 2^20 head types ≈ tens of MB of (key, counts) rows.
    * The threshold only moves instances between routes — results are
    * route-blind (spec-pinned at both extremes by the operators).
    */
  def hotMin(targetHeadTypes: Long = 1L << 20): SizedLong = {
    require(targetHeadTypes > 0, "targetHeadTypes must be positive")
    SizedLong(
      1000L, Long.MaxValue,
      n => n / targetHeadTypes + (if (n % targetHeadTypes > 0) 1L else 0L))
  }

  /** Embedding sign-LSH key width (graft.dedup.Dedup): bits ∝ log2 of
    * the bucket count that keeps expected per-bucket population at
    * `targetBucketRows` — so bucket population is flat at any corpus
    * size and the within-bucket pair loop stays linear overall.
    * Clamped to [4, 24]: below 4 bits blocking does nothing useful;
    * above 24 the key outruns the sign stability of real embedding
    * components (and 16 M buckets already covers petabyte-scale counts
    * at the default target).
    */
  def signBits(targetBucketRows: Long = 4096L): Sized = {
    require(targetBucketRows > 0, "targetBucketRows must be positive")
    Sized(
      4, 24,
      n => {
        val buckets = math.max(1.0, n.toDouble / targetBucketRows)
        math.ceil(math.log(buckets) / math.log(2)).toInt
      })
  }
}
