package graft.queries

import graft.{SparkEntry, SparkTestBase}

class QueryCatalogSpec extends SparkTestBase {

  test("every oracle key names a real query") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracles without queries: $missing")
  }

  test("every query carries an oracle (rows-only grading needs an explicit exemption)") {
    // The SparkEntry contract allows omitting oracleSql for
    // non-SQL-expressible ops, but the driver then records only a
    // weaker rows>0 check — a silent downgrade if the omission is an
    // oversight rather than a decision (the capped-set drift class,
    // r18). Every catalog row is currently DuckDB-oracled; a genuinely
    // non-expressible future query goes in this exemption set WITH its
    // reason, so the downgrade is a reviewed decision.
    val rowsOnlyExempt: Set[String] = Set.empty
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet -- rowsOnlyExempt
    assert(unoracled.isEmpty,
      s"queries graded rows-only without an exemption entry: $unoracled")
    val stale = rowsOnlyExempt & SparkEntry.oracleSql.keySet
    assert(stale.isEmpty, s"exempted queries that now HAVE oracles: $stale")
  }

  test("catalog names are unique and stable-format") {
    SparkEntry.queries.keys.foreach { k =>
      assert(k.matches("[a-z0-9_]+"), s"query name $k not snake_case")
    }
    assert(SparkEntry.queries.size >= 42)
    assert(SparkEntry.oracleSql.size >= 33)
  }

  test("flagship entry returns rows on sf0.001 (driver smoke contract)") {
    val rows = SparkEntry.entry(spark).collect()
    assert(rows.nonEmpty)
  }

  test("set-ops output is non-empty and op-order-sensitive (ADVICE r4)") {
    // A 0-row pass certifies nothing (VERDICT r3), and a hardcoded
    // activity threshold silently regresses to emptiness once per-user
    // counts outgrow it (ADVICE r4). Pin both properties: rows exist,
    // and swapping INTERSECT/EXCEPT provably changes the answer.
    import org.apache.spark.sql.functions._
    val out = SparkEntry.queries("q_set_ops")(spark, sf())
      .collect().map(_.getLong(0)).toSet
    assert(out.nonEmpty, "q_set_ops returned 0 rows — threshold no longer splits users")
    // flag is a no-op for the current micros testdata but keeps this
    // bare read alive if the driver ever regenerates events as
    // TIMESTAMP(NANOS) again (the spec only touches non-time columns)
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val per = spark.read.parquet(s"${sf()}/events.parquet")
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"))
    val thr = per.groupBy(col("event_type"))
      .agg((sum(col("n")) * lit(1.0) / count(lit(1))).as("t"))
    val active = per.join(broadcast(thr), Seq("event_type")).filter(col("n") > col("t"))
    def users(t: String) = active.filter(col("event_type") === t).select(col("user_id"))
    val swapped = users("click").except(users("purchase")).intersect(users("error"))
      .collect().map(_.getLong(0)).toSet
    assert(out != swapped, "swapping INTERSECT and EXCEPT did not change the result")
  }

  test("near-dup / decontamination plans stay free of all-pairs joins (scale shape)") {
    // the 100 TB contract for the pair-generating queries: candidates
    // come from keyed equi-joins (band bucket / gram / cluster), never
    // a cartesian or same-block nested-loop product over data rows
    for (name <- Seq("q_ngram_jaccard", "q_minhash_lsh", "q_decontaminate", "q_simhash")) {
      val plan = SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product:\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$name plans a nested-loop join:\n$plan")
    }
    // q_ivf_knn_join: the query×centroid crossJoin(broadcast) IS a
    // nested-loop by design — O(queries · nlist), nlist is tiny — but a
    // cartesian over DATA rows must still never appear
    val ivf = SparkEntry.queries("q_ivf_knn_join")(spark, sf()).queryExecution.executedPlan.toString
    assert(!ivf.contains("CartesianProduct"), s"q_ivf_knn_join plans a cartesian product:\n$ivf")
  }

  test("retrieval-family plan shapes (round-7 scale contracts)") {
    def plan(name: String) =
      SparkEntry.queries(name)(spark, sf()).queryExecution.executedPlan.toString
    def scans(p: String) = "Scan parquet".r.findAllIn(p).size

    // BM25: corpus stats ride ONE 1-row aggregate (broadcast back),
    // top-k is a heap, and since r20 the per-doc counter table is
    // locally checkpointed so the stats and scoring consumers SHARE
    // one scan+tokenize: the final plan must read the checkpoint RDD
    // from both sides and never re-scan the corpus (a parquet scan
    // reappearing here means the checkpoint was dropped and the
    // corpus is tokenized once per consumer again).
    val bm25 = plan("q_bm25_topk")
    assert(bm25.contains("TakeOrderedAndProject"), s"bm25 lost its top-k heap:\n$bm25")
    assert(scans(bm25) == 0, s"bm25 should read the checkpointed per-doc counters, not re-scan the corpus:\n$bm25")
    val rddScans = "Scan ExistingRDD".r.findAllIn(bm25).size
    assert(rddScans == 2, s"bm25 should read the per-doc checkpoint exactly twice (stats + scoring):\n$bm25")

    // range search: scan + scalar filter, nothing else — no shuffle,
    // no sort, no heap.
    val range = plan("q_range_search")
    assert(!range.contains("Exchange"), s"range search gained a shuffle:\n$range")
    assert(!range.contains("TakeOrdered") && !range.contains("Sort"), s"range search gained an ordering step:\n$range")

    // grouping search: the rank-1 filter must be rewritten to
    // WindowGroupLimit (map-side one-row-per-group pruning before the
    // group-key shuffle) — the property that makes it skew-safe.
    val grouped = plan("q_group_search")
    assert(grouped.contains("WindowGroupLimit"), s"grouping search lost WindowGroupLimit pruning:\n$grouped")

    // SQ8 one-shot search: fit must be instantiated ONCE — the
    // fit+encode+searchTopK composition planned THREE scans (two full
    // stats trees) before quantizedTopK fused them; fence the fix.
    val sq8 = plan("q_sq8_topk")
    assert(scans(sq8) == 2, s"sq8 should scan embeddings exactly twice (fit + scoring):\n$sq8")

    // hybrid RRF: fusion joins k-row rankings — no cartesian over data
    // rows anywhere in the plan.
    val rrf = plan("q_hybrid_rrf")
    assert(!rrf.contains("CartesianProduct"), s"hybrid fusion plans a cartesian product:\n$rrf")
  }

  test("salted join/agg are semantically invisible (round-7 skew evidence)") {
    import org.apache.spark.sql.functions._
    val dir = sf()
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .select(col("l_orderkey").as("o_orderkey"), col("l_quantity"))
      .join(spark.read.parquet(s"$dir/orders.parquet").select("o_orderkey", "o_orderpriority"), "o_orderkey")
      .groupBy("o_orderpriority")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("o_orderpriority")
      .collect().toSeq
    val salted = SparkEntry.queries("q_salted_join")(spark, dir).collect().toSeq
    assert(salted == plain)

    val distinctPlain = spark.read.parquet(s"$dir/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(countDistinct("l_suppkey").cast("int").as("distinct_suppliers"), count(lit(1)).as("n_items"))
      .orderBy("l_returnflag")
      .collect().toSeq
    val distinctSalted = SparkEntry.queries("q_salted_agg")(spark, dir).collect().toSeq
    assert(distinctSalted == distinctPlain)
  }

  test("q_bucketed_join: co-located plan certified and rows match the plain join") {
    import org.apache.spark.sql.functions._
    val dir = sf()
    val rows = SparkEntry.queries("q_bucketed_join")(spark, dir).collect().toSeq
    assert(rows.nonEmpty)
    assert(rows.forall(_.getBoolean(3)), "bucketed join planned a shuffle or ignored buckets")
    val plain = spark.read.parquet(s"$dir/lineitem.parquet")
      .join(spark.read.parquet(s"$dir/orders.parquet"), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(sum("l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
      .orderBy("o_orderstatus")
      .collect().toSeq
    assert(rows.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))) ==
      plain.map(r => (r.getString(0), r.getDouble(1), r.getLong(2))))
  }

  test("q_ivf_rewrite: rule fires, matches the explicit probe path, and prunes") {
    val row = SparkEntry.queries("q_ivf_rewrite")(spark, sf()).collect().head
    assert(row.getBoolean(0), "IvfTopKPrune did not fire on the registered collection")
    assert(row.getBoolean(1), "rewritten result diverged from the explicit IVF path")
    assert(row.getBoolean(2), "nprobe did not prune (nprobe >= nlist)")
  }

  test("replica-0-capped rows push the doc_id cap into the parquet scan (r14)") {
    // the cap exists so the sf100 graded slice stays fixed-density; if
    // it ever stops reaching the scan (e.g. slipped above a
    // repartition), every decade pays a full-corpus read again. Runs
    // over every def that DECLARES a cap, so a def listed as capped
    // whose body never slices (the stale half of the old source-scan
    // audit) fails here too.
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, LessThan, Literal}
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

    // capped defs whose FINAL plan holds no scan of the capped table:
    // the cap is applied before a checkpoint, so the plan reads
    // Scan ExistingRDD; their oracles' row counts certify the slice
    val noScanExempt: Map[String, String] = Map(
      "q_dedup_clusters" -> "star-contraction rounds end in a per-round localCheckpoint",
      "q_search_facade" -> "the batch-search bracket checkpoints the capped corpus",
      "q_prefix_jaccard" -> "prefixJaccardPairs checkpoints the tokenized slice and its sorted token lists")

    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case f: FileSourceScanExec => Seq(f)
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case _ => (p.children ++ p.subqueries).flatMap(scans)
    }

    // a whole-table cache leaked by another suite (e.g. a cached
    // embeddings read) would replace the file scans with in-memory
    // reads, so plan against the on-disk tables only
    spark.catalog.clearCache()
    val capped = QueryCatalog.defs.filter(_.cap.isDefined)
    assert(capped.nonEmpty)
    val problems = capped.flatMap { d =>
      val cap = d.cap.get
      val onTable = scans(d.plan(spark, sf()).queryExecution.executedPlan)
        .filter(_.relation.location.rootPaths.exists(_.getName == s"${cap.table}.parquet"))
      val sliced = onTable.map(_.dataFilters.exists {
        case LessThan(a: AttributeReference, Literal(v, _)) =>
          a.name == cap.column && v != null && v.toString == cap.bound.toString
        case _ => false
      })
      (onTable.isEmpty, noScanExempt.contains(d.name)) match {
        case (true, false) => Some(s"${d.name}: no scan of ${cap.table} in the final plan (exempt it with a reason?)")
        case (false, true) => Some(s"${d.name}: stale exemption, the final plan scans ${cap.table}")
        case _ if sliced.contains(false) =>
          Some(s"${d.name}: a ${cap.table} scan lacks the ${cap.sqlPredicate} data filter")
        case _ => None
      }
    }
    val unknownExempt = noScanExempt.keySet -- capped.map(_.name)
    assert(unknownExempt.isEmpty, s"exemptions for defs that declare no cap: $unknownExempt")
    assert(problems.isEmpty, problems.mkString("\n"))
  }

  test("replica-0 cap invariants: below the ScaleUp stride, above the driver-sf keys (r15)") {
    import org.apache.spark.sql.functions.max
    // cap < stride: the filter must select exactly the replica-0 family
    // at every ScaleUp decade (replicas live at key >= replica * stride)
    val caps = QueryCatalog.defs.flatMap(_.cap).distinct
    assert(caps.toSet == Set(Cap.Docs, Cap.DocsSmall, Cap.DocsTiny, Cap.VecsSmall, Cap.Events))
    caps.foreach(c => assert(c.bound < graft.tools.ScaleUp.DefaultKeyStride, c))
    // cap > max driver-sf key: the no-op-at-gate property — the driver
    // compares the FULL corpus at the sfs it grades, the big sweeps a
    // fixed-density slice. sf0.1 is the largest driver corpus (5000
    // docs / 2000 vecs); sf0.01 is the correctness gate.
    def maxKey(table: String, key: String): Long =
      spark.read.parquet(s"/root/testdata/sf0.1/$table.parquet")
        .agg(max(key)).head().getLong(0)
    assert(Cap.Docs.bound > maxKey("documents", "doc_id"))
    assert(Cap.VecsSmall.bound > maxKey("embeddings", "vec_id"))
    assert(Cap.Events.bound > maxKey("events", "event_id"))
    // single definition site: no catalog source carries a bare cap
    // literal that could drift from the Cap values on one side of an
    // oracle pair (VERDICT r14 #1); "< 500" also covers "< 5000"
    val dir = new java.io.File("src/main/scala/graft/queries")
    assert(dir.isDirectory,
      s"scan must run from the repo root (cwd=${new java.io.File(".").getCanonicalPath})")
    val bare = for {
      f <- dir.listFiles.toSeq.filter(_.getName.endsWith(".scala")).sortBy(_.getName)
      src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      lit <- Seq("< 500", "< 2000", "< 100000")
      if src.contains(lit)
    } yield s"${f.getName}: $lit"
    assert(bare.isEmpty,
      s"bare replica-0 cap literal — slice through the def's Cap instead: ${bare.mkString(", ")}")
  }
}
