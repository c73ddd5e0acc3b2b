package graft.bench

import graft.chunk.Chunker
import graft.dedup.{Dedup, SemanticDedup}
import graft.embed.Embedders
import graft.model.{ChunkerConfig, IndexConfig}
import graft.quality.{GopherRules, QualityMonitor}
import graft.search.{HybridSearch, IvfIndex, KeywordSearch, SearchFacade, VectorSearch}
import graft.sources.{HtmlLoader, HwpLoader}
import graft.store.VectorStore
import graft.text.PiiScrub
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The three legs the workloads run. Each call into a library layer is
  * one span, and its result is written or collected inside the span, so
  * the layer's Spark work lands in it. The ingest spine follows
  * `graft.Cli all` (extract → transform → load → validate) with a
  * parquet checkpoint after every layer, plus the IVF build.
  */
object Legs {

  val Prefix = "docs_"
  val K = 5

  /** IVF parameters scaled to the benchmark's stores (a few hundred to a
    * thousand chunks): nlist near √rows, and the library's nprobe/nlist
    * ratio of 1/8. The library default (128 lists) is sized for
    * collections of 16k rows and up; on these stores it would train
    * k-means on about five rows per list.
    */
  val Index = IndexConfig(nlist = 32, nprobe = 4)

  private def dirBytes(p: Path): (Long, Long) =
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val fs = s.iterator().asScala.filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".")).toSeq
        (fs.map(Files.size).sum, fs.size.toLong)
      } finally s.close()
    }

  /** Folder directly under `root`, as HtmlLoader derives it for pages. */
  private def folderOf(path: Column, root: String): Column =
    element_at(split(regexp_replace(path, s"^file:${java.util.regex.Pattern.quote(root)}/?", ""), "/"), 1)

  // ------------------------------------------------------------------ ingest

  final case class Built(store: String, index: String, centroids: Array[Array[Float]], radii: Array[Double],
      bytesOnDisk: Long)

  /** Source tree → chunked, deduplicated, embedded, stored, IVF-indexed,
    * validated.
    */
  def ingest(spark: SparkSession, t: Tracer, src: String, work: String, seed: Long): Built = {
    val docsDir = s"$work/documents"; val rawDir = s"$work/chunks_raw"; val chunksDir = s"$work/chunks"
    val embDir = s"$work/embedded"; val storeDir = s"$work/store"; val indexRoot = s"$work/index"
    t.span("sources") {
      val html = HtmlLoader.load(spark, src)
      val hwpx = HwpLoader.loadHwpx(spark, src).withColumn("folder_name", folderOf(col("source"), src))
      val hwp = HwpLoader.loadHwp(spark, src).withColumn("folder_name", folderOf(col("source"), src))
      html.unionByName(hwpx, allowMissingColumns = true).unionByName(hwp, allowMissingColumns = true)
        .write.mode("overwrite").parquet(docsDir)
    }
    t.span("chunk") {
      Chunker.explodeChunks(spark.read.parquet(docsDir), "text", "source", ChunkerConfig.default)
        .write.mode("overwrite").parquet(rawDir)
    }
    t.span("dedup") {
      Dedup.exactDedup(spark.read.parquet(rawDir), "text", Seq("source", "chunk_index"))
        .write.mode("overwrite").parquet(chunksDir)
    }
    t.span("embed") {
      Embedders.withEmbedding(spark.read.parquet(chunksDir), "text", "embedding", Embedders.default)
        .write.mode("overwrite").parquet(embDir)
    }
    t.span("store") {
      new VectorStore(storeDir).writePartitioned(spark.read.parquet(embDir), "folder_name", Prefix)
    }
    val (centroids, radii) = t.span("index") {
      val (labeled, centroids) = IvfIndex.build(spark.read.parquet(storeDir), "embedding", Index, seed)
      new VectorStore(indexRoot).writeIndexed(labeled, "all")
      (centroids, IvfIndex.clusterRadii(spark.read.parquet(s"$indexRoot/all"), centroids)(spark))
    }
    t.span("quality") {
      QualityMonitor.report(spark.read.parquet(storeDir), "chunk_size_tokens").collect()
    }
    Built(storeDir, s"$indexRoot/all", centroids, radii,
      dirBytes(Paths.get(storeDir))._1 + dirBytes(Paths.get(indexRoot))._1)
  }

  def storeFiles(b: Built): Long = dirBytes(Paths.get(b.store))._2 + dirBytes(Paths.get(b.index))._2

  def storeFacts(spark: SparkSession, b: Built, src: String): Checks.StoreFacts = {
    val store = spark.read.parquet(b.store)
    val root = s"file:$src/"
    val perSource = store.groupBy("source").agg(first("total_chunks").as("t"), count(lit(1)).as("n")).collect()
    val index = spark.read.parquet(b.index)
    Checks.StoreFacts(
      rows = perSource.map(_.getLong(2)).sum,
      chunksPredicted = perSource.map(_.getInt(1).toLong).sum,
      sources = perSource.map(_.getString(0).stripPrefix(root)).toSet,
      collections = store.select("collection").distinct().collect().map(_.getString(0)).toSet,
      indexRows = index.count(),
      clusterIds = index.select("cluster_id").distinct().collect().map(_.getInt(0)).toSet,
      nlist = Index.nlist,
      badDims = store.filter(size(col("embedding")) =!= Embedders.default.dim).count()
    )
  }

  // ------------------------------------------------------------------ search

  /** What the query stream reads: the store, the IVF-labelled copy, the
    * persisted BM25 index and, for the checks, every stored vector.
    */
  final class SearchState(spark: SparkSession, val built: Built, bm25Dir: String) {
    val store: DataFrame = spark.read.parquet(built.store)
    val labeled: DataFrame = spark.read.parquet(built.index)
    val collections: Seq[(String, DataFrame)] =
      store.select("collection").distinct().collect().map(_.getString(0)).sorted.toSeq
        .map(c => c -> store.filter(col("collection") === c))
    val bm25: KeywordSearch.Bm25Index = KeywordSearch.Bm25Index(
      spark.read.parquet(s"$bm25Dir/postings"), spark.read.parquet(s"$bm25Dir/doclens"),
      spark.read.parquet(s"$bm25Dir/stats"))
    private val all = store.select("chunk_id", "embedding").collect()
    val ids: Array[String] = all.map(_.getString(0))
    val vecs: Array[Array[Float]] = all.map(_.getSeq[Float](1).toArray)
  }

  /** Persist the BM25 postings once, as a store would at build time. */
  def buildBm25(spark: SparkSession, t: Tracer, b: Built, dir: String): Unit = t.span("index") {
    val ix = KeywordSearch.buildIndex(spark.read.parquet(b.store), "chunk_id", "text")
    ix.postings.write.mode("overwrite").parquet(s"$dir/postings")
    ix.docLens.write.mode("overwrite").parquet(s"$dir/doclens")
    ix.stats.write.mode("overwrite").parquet(s"$dir/stats")
  }

  val QueryKinds: Seq[String] = Seq("facade", "ivf", "ivf_exact", "fanout", "hybrid")

  /** One cycle of the closed-loop stream: the language-aware façade search
    * is the common request, IVF probes next, and the exact IVF, fan-out
    * and hybrid requests one each.
    */
  val QueryMix: Seq[String] = Seq("facade", "ivf", "facade", "hybrid", "ivf_exact", "facade", "fanout", "ivf")

  /** One query of the closed-loop mix; returns (chunk_id, score) rows. */
  def query(s: SearchState, t: Tracer, kind: String, q: String): Seq[(String, Double)] = {
    val qvec = Embedders.default.embed(q)
    def rows(df: DataFrame, id: String = "chunk_id", score: String = "score") =
      df.select(col(id), col(score).cast("double")).collect().toSeq.map(r => r.getString(0) -> r.getDouble(1))
    t.span("search") {
      kind match {
        case "facade" => rows(SearchFacade.search(s.store, q, Embedders.default, K))
        case "ivf" => rows(IvfIndex.searchTopK(s.labeled, s.built.centroids, qvec, K, Index))
        case "ivf_exact" =>
          rows(IvfIndex.searchTopKExact(s.labeled, s.built.centroids, s.built.radii, qvec, K,
            scout = Index.nprobe, tieBreakCol = Some("chunk_id")))
        case "fanout" =>
          val lang = SearchFacade.detectQueryLanguageScala(q)
          // three collections per query, rotated by the query text
          val from = math.floorMod(q.hashCode, s.collections.size)
          val picked = (s.collections ++ s.collections).slice(from, from + math.min(3, s.collections.size))
          rows(VectorSearch.multiCollectionTopK(picked, qvec, K,
            predicate = Some(col("language") === lang && col("chunk_size_tokens") >= 20)))
        case "hybrid" =>
          val terms = q.toLowerCase.split("\\s+").filter(_.nonEmpty).distinct.toSeq
          val bm = HybridSearch.withRank(KeywordSearch.bm25TopKIndexed(s.bm25, terms, K, "chunk_id"),
            Seq(desc("score"), col("chunk_id")))
          val vec = HybridSearch.withRank(VectorSearch.topK(s.store, qvec, K),
            Seq(desc("score"), col("chunk_id")))
          rows(HybridSearch.rrfFuse(Seq("bm25" -> bm, "vec" -> vec), K, "chunk_id"), score = "rrf")
      }
    }
  }

  /** One batch of queries answered through the façade's batch form. */
  def batch(s: SearchState, t: Tracer, qs: Seq[String]): Int = t.span("search") {
    SearchFacade.withSearchBatch(s.store, qs.zipWithIndex.map { case (q, i) => s"q$i" -> q },
      Embedders.default, K, extraCols = Seq("chunk_id")) { res =>
      res.map(_._2.select("chunk_id").collect().length).sum
    }
  }

  // ------------------------------------------------------------------ curate

  final case class Curated(dir: String, inputDocs: Long)

  /** Exact dedup → MinHash-LSH near-dup clusters → Gopher quality →
    * PII scrub → bloom decontamination → semantic dedup.
    */
  def curate(spark: SparkSession, t: Tracer, corpusDir: String, benchDir: String, work: String,
      seed: Long): Curated = {
    val docs = spark.read.parquet(corpusDir)
    t.span("dedup") {
      Dedup.exactDedup(docs, "text", Seq("doc_id")).write.mode("overwrite").parquet(s"$work/exact")
    }
    val exact = spark.read.parquet(s"$work/exact")
    t.span("dedup") {
      Dedup.minHashLshPairs(exact, "doc_id", "text").write.mode("overwrite").parquet(s"$work/pairs")
    }
    t.span("dedup") {
      Dedup.dedupByNearDup(exact, "doc_id", spark.read.parquet(s"$work/pairs"))
        .write.mode("overwrite").parquet(s"$work/near")
    }
    t.span("quality") {
      GopherRules.withGopherKeep(spark.read.parquet(s"$work/near"), "text").select("doc_id", "text", "keep")
        .write.mode("overwrite").parquet(s"$work/quality")
    }
    t.span("text") {
      spark.read.parquet(s"$work/quality").withColumn("text", PiiScrub.scrub(col("text")))
        .write.mode("overwrite").parquet(s"$work/scrubbed")
    }
    val scrubbed = spark.read.parquet(s"$work/scrubbed")
    t.span("dedup") {
      Dedup.bloomContainmentPairs(scrubbed, spark.read.parquet(benchDir), "doc_id", "text")
        .select("doc_id", "bench_id").write.mode("overwrite").parquet(s"$work/contaminated")
    }
    t.span("embed") {
      val kept = scrubbed.filter(col("keep"))
        .join(spark.read.parquet(s"$work/contaminated").select("doc_id").distinct(), Seq("doc_id"), "left_anti")
      Embedders.withEmbedding(kept, "text", "embedding").write.mode("overwrite").parquet(s"$work/embedded")
    }
    t.span("dedup") {
      val emb = spark.read.parquet(s"$work/embedded")
      SemanticDedup.semanticDedupAuto(emb, "doc_id", "embedding", k = 16, tau = 0.95, seed = seed)
        .select("doc_id").write.mode("overwrite").parquet(s"$work/final")
    }
    Curated(work, docs.count())
  }

  def curateFacts(spark: SparkSession, c: Curated): Checks.CurateFacts = {
    def rd(n: String) = spark.read.parquet(s"${c.dir}/$n")
    val counts = rd("scrubbed").select(
      Seq("EMAIL", "CARD", "PHONE", "IP").map(k =>
        sum(size(split(col("text"), s"<$k>")) - 1).as(k)): _*).collect().head
    Checks.CurateFacts(
      exactRows = rd("exact").count(),
      nearPairs = rd("pairs").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet,
      nearRows = rd("near").count(),
      redactions = Seq("EMAIL", "CARD", "PHONE", "IP").map(k => k -> Option(counts.getAs[Long](k)).getOrElse(0L).toInt)
        .filter(_._2 > 0).toMap,
      contaminated = rd("contaminated").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet,
      keptRows = rd("embedded").count(),
      semanticRows = rd("final").count()
    )
  }
}
