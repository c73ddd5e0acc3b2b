package graft

import graft.queries.{QueryCatalog, SearchQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see SURVEY.md §7.
  * Every map and set here derives from the one catalog list,
  * [[graft.queries.QueryCatalog.defs]].
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001: the full ETL spine
    * (clean → chunk → dedup → embed → vector top-k). Driver
    * smoke-checks rows > 0.
    */
  def entry(spark: SparkSession): DataFrame =
    QueryCatalog.byName("q_pipeline_e2e").plan(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    QueryCatalog.defs.map(d => d.name -> d.plan).toMap

  /** Load-side preparation (IVF index build + cache) for a
    * scale-factor dir — the work the reference does at insert time.
    * Benchmarks run this before the timing loop.
    */
  def prepare(spark: SparkSession, sfDir: String): Unit =
    SearchQueries.prepare(spark, sfDir)

  /** Rows that read the prepared in-memory index artifacts — Bench
    * re-pins cache residency before timing these.
    */
  def indexBackedQueries: Set[String] =
    QueryCatalog.defs.filter(_.indexBacked).map(_.name).toSet

  /** Re-materialize evicted index-cache blocks; returns whether the
    * caches were already fully resident.
    */
  def ensureIndexCaches(spark: SparkSession, sfDir: String): Boolean =
    SearchQueries.ensureIndexCaches(spark, sfDir)

  /** DuckDB-equivalent SQL for every catalog query. */
  def oracleSql: Map[String, String] =
    QueryCatalog.defs.map(d => d.name -> d.oracleSql).toMap
}
