package graft.queries

/** The driver-contract query catalog: every operator from SURVEY.md §2
  * (plus the training-data-pipeline additions) as a named query over
  * the testdata tables, each with DuckDB oracle SQL. One [[QueryDef]]
  * per query, grouped by family; SparkEntry's query/oracle maps, the
  * index-backed set and Bench's capped set all derive from [[defs]].
  */
object QueryCatalog {

  val defs: Seq[QueryDef] =
    RelationalQueries.defs ++ TextQueries.defs ++ DedupQueries.defs ++
      QualityQueries.defs ++ SearchQueries.defs ++ SourceQueries.defs ++
      StreamingQueries.defs

  val byName: Map[String, QueryDef] = {
    val dups = defs.groupBy(_.name).collect { case (n, ds) if ds.size > 1 => n }
    require(dups.isEmpty, s"duplicate catalog query names: ${dups.toSeq.sorted.mkString(", ")}")
    defs.map(d => d.name -> d).toMap
  }

  /** The defs for `names`, in order; fails listing every unknown name
    * so a misspelt argument never runs (or prints) nothing silently.
    */
  def resolve(names: Seq[String]): Seq[QueryDef] = {
    val unknown = names.filterNot(byName.contains)
    if (unknown.nonEmpty)
      sys.error(s"unknown catalog queries: ${unknown.mkString(", ")}")
    names.map(byName)
  }
}
