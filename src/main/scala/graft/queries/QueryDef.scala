package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

/** A replica-0 graded-slice cap (round 14's retirement of the
  * by-design sf100 skips): rows whose ORACLES are deliberately
  * quadratic (exhaustive all-pairs Jaccard, recursive closures,
  * non-spillable per-doc embedding state) grade a fixed-density
  * replica-0 slice `column < bound` of `table`, so their
  * from-first-principles answer checks replay at every decade. At the
  * ScaleUp decades these rows execute (and Bench TIMES) the capped
  * slice, not the full corpus; Bench stamps the capped names into its
  * JSON so a capped timing is never read as a full-corpus one
  * (ADVICE r14). Full-corpus decade behavior for these operators is
  * probe-measured (SCALE.md), not bench-measured.
  *
  * The bounds are invariant-coupled to the fixture layout and the
  * driver gate, asserted by QueryCatalogSpec:
  *
  *  - bound < [[graft.tools.ScaleUp.DefaultKeyStride]] (10^7), so the
  *    filter selects exactly the replica-0 family at every decade
  *    (ScaleUp offsets replica keys by `replica · stride`);
  *  - [[Cap.Docs]]/[[Cap.VecsSmall]] exceed the max driver-sf key
  *    (sf0.1 doc_ids end at 4,999), so the filter is a NO-OP at the
  *    sfs the driver grades — the gate compares the full corpus, the
  *    big sweeps a fixed-density slice.
  *
  * A [[QueryDef]] hands its one Cap to BOTH its plan body and its
  * oracle SQL, so the two sides of an oracle pair slice alike by
  * construction (VERDICT r14 #1) and the capped set is the set of defs
  * that declare a cap.
  */
final case class Cap(table: String, column: String, bound: Long) {

  /** The Spark side of the slice. */
  def predicate: Column = col(column) < bound

  /** The oracle side of the same slice. */
  def sqlPredicate: String = s"$column < $bound"
}

object Cap {

  /** The replica-0 documents (the full sf0.1 corpus at every decade). */
  val Docs: Cap = Cap("documents", "doc_id", 5000L)

  /** The smaller slice for rows whose exhaustive oracle is quadratic
    * PLUS recursive/stateful (q_dedup_clusters' transitive closure
    * TIMEOUT'd DuckDB at the 5000-doc slice, sweep100_r14g;
    * q_pack_sequences' recursion depth). No-op at the sf0.01 driver
    * gate (2000 > max sf0.01 key).
    */
  val DocsSmall: Cap = Cap("documents", "doc_id", 2000L)

  /** The smallest slice, for the one row whose oracle is exhaustive
    * all-pairs over SETS of tokens (q_prefix_jaccard's capped
    * exact-verify reference — list_distinct + list intersections per
    * pair in DuckDB). No-op at the sf0.001 smoke corpus only; the
    * sf0.01+ gates grade the capped slice on BOTH engines.
    */
  val DocsTiny: Cap = Cap("documents", "doc_id", 500L)

  /** The embedding-side small slice (q_embed_neardup's all-pairs
    * verification and its relatives): 8 fixed clusters or a brute
    * pair scan stop bounding pair volume on the ScaleUp corpora.
    */
  val VecsSmall: Cap = Cap("embeddings", "vec_id", 2000L)

  /** The replica-0 events (the sf0.1 events corpus at every decade). */
  val Events: Cap = Cap("events", "event_id", 100000L)
}

/** One catalog query: its name, plan body, DuckDB oracle SQL (column
  * names and types aligned with the plan, floating aggregates rounded
  * identically on both sides), optional replica-0 [[Cap]], and whether
  * it reads the prepared in-memory index caches (Bench re-pins their
  * residency right before timing such rows). The constructor is
  * private: a cap can only be declared through [[QueryDef.capped]].
  */
final case class QueryDef private (
    name: String,
    plan: Q,
    oracleSql: String,
    cap: Option[Cap],
    indexBacked: Boolean)

object QueryDef {

  /** An uncapped row. */
  def apply(name: String, plan: Q, oracleSql: String, indexBacked: Boolean = false): QueryDef =
    new QueryDef(name, plan, oracleSql, None, indexBacked)

  /** A capped row: the one cap is handed to both the plan body and the
    * oracle SQL, so neither side can slice on a cap the def does not
    * declare, nor slice differently from the other.
    */
  def capped(name: String, cap: Cap)(plan: Cap => Q, oracleSql: Cap => String): QueryDef =
    new QueryDef(name, plan(cap), oracleSql(cap), Some(cap), indexBacked = false)
}
