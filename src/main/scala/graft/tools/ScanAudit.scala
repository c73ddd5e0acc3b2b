package graft.tools

import graft.queries.QueryCatalog
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, ReusedSubqueryExec, SparkPlan}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Catalog-wide audit for the "pruning defeats ReuseExchange" class
  * (r20 batch 5): with AQE off, classic ReuseExchange collapses
  * canonically-equal exchange subtrees, so any relation still scanned
  * more than once in the final plan is either genuinely consumed with
  * different shapes (self-joins) or a reuse miss — most often two
  * subtrees identical up to column pruning. For every catalog query
  * this prints scans-per-path with each scan's output columns, plus
  * ReusedExchange counts, and flags paths where one duplicate scan's
  * column set is a subset of another's (the repairable class).
  *
  * Plan-only: queries are built, not executed through the sink —
  * queries that run internal actions while building (loops, head())
  * still pay those, so point this at a small SF.
  *
  * Usage: runMain graft.tools.ScanAudit <sfDir> [query...]
  */
object ScanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val defs = QueryCatalog.resolve(
      if (args.length > 1) args.tail.toSeq else QueryCatalog.defs.map(_.name).sorted)
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def scans(p: SparkPlan): Seq[FileSourceScanExec] = {
      val here = p match {
        case f: FileSourceScanExec => Seq(f)
        case _: ReusedExchangeExec => Seq.empty // already collapsed
        case _: ReusedSubqueryExec => Seq.empty
        case _ => Seq.empty
      }
      here ++ p.children.flatMap(scans) ++
        p.subqueries.flatMap(scans) // subquery plans hold their own scans
    }
    def reuses(p: SparkPlan): Int = {
      val here = p match { case _: ReusedExchangeExec => 1; case _ => 0 }
      here + p.children.map(reuses).sum + p.subqueries.map(reuses).sum
    }

    defs.foreach { d =>
      val n = d.name
      try {
        val df = d.plan(spark, sfDir)
        val plan = df.queryExecution.executedPlan
        val byPath = scans(plan).groupBy(f =>
          f.relation.location.rootPaths.headOption.map(_.getName).getOrElse("?"))
        val nReuse = reuses(plan)
        val dups = byPath.filter(_._2.size > 1)
        if (dups.isEmpty) {
          println(f"[scanaudit] $n%-28s ok    scans=${byPath.values.map(_.size).sum} reuse=$nReuse")
        } else {
          dups.toSeq.sortBy(_._1).foreach { case (path, ss) =>
            val cols = ss.map(_.output.map(_.name).toSet)
            val subsumed = cols.combinations(2).exists(p => p(0).subsetOf(p(1)) || p(1).subsetOf(p(0)))
            val tag = if (subsumed) "PRUNE?" else "multi "
            println(f"[scanaudit] $n%-28s $tag path=$path x${ss.size} reuse=$nReuse cols=${cols.map(_.toSeq.sorted.mkString("(", ",", ")")).mkString(" vs ")}")
          }
        }
      } catch { case e: Throwable => println(s"[scanaudit] $n FAILED: ${e.getMessage}") }
    }
    spark.stop()
  }
}
