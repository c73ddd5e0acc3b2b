package graft.dedup

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** K5 — exact-hash deduplication (keep-first) in its three scale
  * shapes (single-pass window, precomputed-key, hot-key-safe
  * agg+semi-join) plus corpus-wide line-level dedup stats.
  */
private[dedup] trait ExactDedupOps extends Serializable { this: TextNormalization =>

  /** K5 — exact dedup, keep-first. The reference's "first" is Python
    * iteration order; distributed determinism requires an explicit
    * order, so the caller names the tiebreak columns (e.g. source,
    * chunk_index) — SURVEY.md §7.5 item 5.
    *
    * Scale shape: the window is a SINGLE pass over the child — right
    * whenever the child is expensive to recompute (a UDF stage, a
    * parse) or rows are narrow. Its weakness is a massively duplicated
    * group (one boilerplate doc × 10^8 copies funnels into one window
    * task); corpora with that profile over a cheap-to-rescan child use
    * [[exactDedupAggJoin]]. Fat-row pipelines should dedup AFTER
    * projecting the payload down ([[exactDedupByKey]]) — round-11
    * sf100 measured text-through-the-window in the search façade at
    * 37× for a 13.9× decade, pure shuffle spill of a column the query
    * was about to drop.
    */
  def exactDedup(df: DataFrame, textCol: String, orderCols: Seq[String]): DataFrame =
    exactDedupByKey(
      df.withColumn("__h", contentHash(col(textCol))), "__h", orderCols)
      .drop("__h")

  /** [[exactDedup]] with a PRECOMPUTED duplicate-group key column —
    * the entry point for fat-row pipelines: compute the key while the
    * payload is still cheap to scan, project the payload down to what
    * the downstream actually needs, and dedup the NARROW frame so the
    * shuffle never moves the payload. Single-pass (window), so an
    * expensive child (e.g. an embedding UDF) is evaluated exactly
    * once.
    */
  def exactDedupByKey(df: DataFrame, keyCol: String, orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must name a deterministic tiebreak")
    val w = Window.partitionBy(col(keyCol)).orderBy(orderCols.map(col): _*)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** Hot-key-safe keep-first for corpora where one duplicate group can
    * be astronomically large (the boilerplate-page profile): winner
    * selection is an ordinary aggregate — groupBy(key).min(struct(
    * orderCols)) — followed by a left-semi equi-join on
    * (key, orderCols). The aggregate partial-aggregates map-side, so
    * the hottest group reaches the reducer as one row per upstream
    * partition, and the join key is unique per row — no funnel
    * anywhere (same no-window rule as [[lineDedupStats]]). The trade:
    * the child is evaluated TWICE (winners branch + join branch) —
    * point it at a cheap scan, or checkpoint an expensive child first;
    * measured at sf10, putting an embed UDF under this variant cost
    * 1.6× vs the single-pass window. orderCols must uniquely identify
    * a row within a duplicate group.
    *
    * Null handling: the semi-join uses NULL-SAFE equality (`<=>`) on
    * the key and every tiebreak column, so a null-key group (or a
    * null inside the winning tiebreak tuple) keeps exactly one
    * representative — identical to the window formulation, where
    * partitionBy/orderBy already treat NULL as an ordinary value. A
    * null-unsafe join here would silently DROP the whole null-key
    * group (no row ever equals its winner), breaking the documented
    * window equivalence (ADVICE r11).
    */
  def exactDedupAggJoin(df: DataFrame, keyCol: String, orderCols: Seq[String]): DataFrame = {
    require(orderCols.nonEmpty, "orderCols must name a deterministic tiebreak")
    val winners = df
      .groupBy(col(keyCol))
      .agg(min(struct(orderCols.map(col): _*)).as("__w"))
      .select(col(keyCol).as("__wk") +: orderCols.zipWithIndex.map {
        case (c, i) => col(s"__w.$c").as(s"__wo$i")
      }: _*)
    val cond = (keyCol, "__wk") +: orderCols.zipWithIndex.map { case (c, i) => (c, s"__wo$i") }
    df.join(winners, cond.map { case (l, r) => df(l) <=> winners(r) }.reduce(_ && _), "left_semi")
  }

  /** Corpus-wide LINE-level dedup stats — the C4/RefinedWeb
    * preprocessing step: every non-empty (trimmed) line is kept only at
    * its FIRST occurrence across the whole corpus (boilerplate
    * navigation, cookie banners, repeated headers collapse to one
    * copy). Deterministic distributed "first" = (doc_id, line_index)
    * order, same contract as [[exactDedup]]. Returns per-doc
    * (n_lines, n_kept, kept_ratio) — the survival profile a corpus
    * curation pipeline filters on.
    *
    * Plan shape at 100 TB: a boilerplate line is a GUARANTEED hot key
    * (the workload exists because one banner appears in 30% of docs),
    * so the global "first occurrence" must never be a row_number window
    * over the raw occurrences — a window cannot partial-aggregate and
    * the hot line's billions of rows would funnel into one task.
    * Instead: aggregate to (doc, line) first (keyed by the pair — no
    * hot key), then take min(struct(doc_id, first_idx)) per line — an
    * ordinary aggregate with MAP-SIDE COMBINE, so even the hottest line
    * arrives at the reducer as one row per upstream partition. No
    * window anywhere.
    *
    * Exchange reuse (r20): the (doc, line) aggregate feeds two
    * branches (global firsts + the stats join), and per-branch column
    * pruning used to specialize the partial aggregates (the firsts
    * branch dropped `c`), making the exchanges non-canonical — so
    * ReuseExchange could not dedupe them and the scan+explode ran
    * TWICE. The firsts branch now carries a no-op `c >= 1` filter
    * (count(1) of a present group is always ≥ 1) whose only purpose is
    * to keep `c` referenced: both branches plan the IDENTICAL partial
    * aggregate + hash(doc_id, ln) exchange, ReuseExchange collapses
    * them, and the scan+tokenize+explode+partial-agg runs ONCE with no
    * persist (r20 profile at sf0.1: two 32-task map stages → one,
    * summed CPU 10.3 → 4.4 s in the quiet run).
    */
  def lineDedupStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val lines = df
      .select(col(idCol).as("doc_id"), posexplode(split(col(textCol), "\n")).as(Seq("idx", "raw")))
      .withColumn("ln", trim(col("raw")))
      .filter(length(col("ln")) > 0)
      .select("doc_id", "idx", "ln")
    val docLines = lines
      .groupBy("doc_id", "ln")
      .agg(count(lit(1)).as("c"), min(col("idx")).as("first_idx"))
    // `c >= 1` is vacuously true — it exists so column pruning cannot
    // drop `c` from this branch's partial aggregate (see scaladoc)
    val firsts = docLines
      .filter(col("c") >= 1)
      .groupBy("ln")
      .agg(min(struct(col("doc_id"), col("first_idx"))).as("first"))
    docLines
      .join(firsts, Seq("ln"))
      .groupBy("doc_id")
      .agg(
        sum(col("c")).as("n_lines"),
        sum(
          when(col("first.doc_id") === col("doc_id") && col("first.first_idx") === col("first_idx"), 1L)
            .otherwise(0L)
        ).as("n_kept")
      )
      .select(
        col("doc_id"),
        col("n_lines"),
        col("n_kept"),
        // exact-integer HALF_UP at 6 dp (the RepetitionStats.ratio6
        // pattern; n_lines > 0 for every emitted doc): rounding the
        // double ratio diverges from a SQL replay at .5e-6 midpoints
        (expr("(2 * n_kept * 1000000 + n_lines) div (2 * n_lines)").cast("double") / lit(1e6))
          .as("kept_ratio")
      )
  }
}
