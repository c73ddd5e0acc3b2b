package graft.bench

import graft.search.IvfIndex
import graft.embed.Embedders
import org.apache.commons.io.FileUtils
import org.apache.spark.BenchBus
import org.apache.spark.sql.SparkSession

import java.io.File
import java.nio.file.Paths

/** The three workloads. Each returns its set-up time in seconds (input
  * generation, the median of three, plus the untimed warm-up and any
  * build the measured phase reads) and fills the outcome with the
  * measured-phase figures and the checks.
  *
  * Sizes are fixed here, not by flags: every run of a workload does the
  * same amount of work per repetition, and only `--seconds` sets how
  * many repetitions are measured.
  */
object Workload {

  final case class Ctx(spark: SparkSession, tracer: Tracer, cpu: EtlBench.CpuMeter, work: String, seed: Long,
      seconds: Double, out: EtlBench.Outcome) {
    /** Executor CPU seconds so far, after every finished task was counted. */
    def cpuS: Double = { BenchBus.drain(spark.sparkContext); cpu.ns.get / 1e9 }
    def dir(name: String): String = s"$work/$name"

    /** The measured phase: GC time inside it, live heap right after it. */
    def measured[T](body: => T): T = {
      val gc0 = EtlBench.gcSeconds
      val r = body
      out.gcS = EtlBench.gcSeconds - gc0
      out.liveHeapMb = EtlBench.liveHeapMb
      r
    }
  }

  val IngestFiles = 40
  val WarmupFiles = 16 // IVF training needs more distinct chunks than nlist
  val SearchFiles = 24
  val CurateDocs = 250
  val WarmupDocs = 50
  val NearDupRate = 0.1
  val BatchQueries = 16
  val RecallQueries = 5

  private def secs[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = body; (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Run `gen` three times into fresh directories; keep the last result
    * and report the median time.
    */
  private def generate[T](gen: Int => T): (T, Double) = {
    val runs = (1 to 3).map(i => secs(gen(i)))
    (runs.last._1, EtlBench.median(runs.map(_._2)))
  }

  /** Repeat `pass` until `seconds` of measured time have passed, in
    * whole multiples of `unit` repetitions.
    */
  private def repeat[T](seconds: Double, unit: Int = 1)(pass: Int => T): Seq[T] = {
    val t0 = System.nanoTime(); val out = Seq.newBuilder[T]; var i = 0
    while (i == 0 || i % unit != 0 || (System.nanoTime() - t0) / 1e9 < seconds) { out += pass(i); i += 1 }
    out.result()
  }

  private def untraced(spark: SparkSession) = new Tracer(spark, enabled = false)

  private def sourceTree(c: Ctx, files: Int, name: String, seed: Long)(i: Int): Corpus.SourceTree = {
    val d = new File(c.dir(s"$name$i"))
    FileUtils.deleteQuietly(new File(c.dir(s"$name${i - 1}")))
    Corpus.writeSourceTree(d.toPath, seed, files)
  }

  // ------------------------------------------------------------------ ingest

  def ingest(c: Ctx): Double = {
    val (tree, genS) = generate(sourceTree(c, IngestFiles, "src", c.seed))
    val src = c.dir("src3")
    val (_, warmS) = secs {
      Corpus.writeSourceTree(Paths.get(c.dir("warm-src")), c.seed + 1, WarmupFiles)
      Legs.ingest(c.spark, untraced(c.spark), c.dir("warm-src"), c.dir("warm"), c.seed)
    }
    // passes in pairs: the first one after the warm-up is still the slower
    val passes = c.measured(repeat(c.seconds, 2) { i =>
      val cpu0 = c.cpuS
      val (built, wall) = secs(Legs.ingest(c.spark, c.tracer, src, c.dir(s"pass$i"), c.seed))
      val cpu = c.cpuS - cpu0
      if (i > 0) FileUtils.deleteQuietly(new File(c.dir(s"pass${i - 1}")))
      c.out.attempted += 7 // layer calls per pass
      (built, wall, cpu)
    })
    val (built, _, _) = passes.last
    c.out.opsPerS = EtlBench.median(passes.map(p => IngestFiles / p._2))
    c.out.cpuSPerKop = EtlBench.median(passes.map(p => p._3 / IngestFiles * 1000))
    c.out.opP50Ms = EtlBench.median(passes.map(_._2 * 1000))
    c.out.check(Checks.ingest(tree, Legs.storeFacts(c.spark, built, src), Legs.Prefix))
    if (c.tracer.enabled) ingestExtras(c, built, tree, c.dir(s"pass${passes.size - 1}"))
    c.out.details ++= Seq("pass_wall_s" -> passes.map(_._2).mkString(","), "pass_cpu_s" -> passes.map(_._3).mkString(","),
      "passes" -> passes.size, "files" -> IngestFiles, "source_bytes" -> tree.bytes,
      "store_bytes" -> built.bytesOnDisk, "generate_s" -> genS, "warmup_s" -> warmS)
    genS + warmS
  }

  private def ingestExtras(c: Ctx, b: Legs.Built, tree: Corpus.SourceTree, passDir: String): Unit = {
    val t = c.tracer
    def rows(d: String) = c.spark.read.parquet(s"$passDir/$d").count().toDouble
    val docs = rows("documents"); val raw = rows("chunks_raw"); val chunks = rows("chunks")
    t.extra("sources", "bytes_read", t.acc("sources").bytesRead.toDouble)
    t.extra("sources", "drop_frac", 1 - docs / tree.files)
    t.extra("chunk", "chunks_per_doc", raw / docs)
    t.extra("dedup", "drop_frac", 1 - chunks / raw)
    t.extra("dedup", "pairs_verified", 0)
    t.extra("store", "bytes_written", t.acc("store").bytesWritten.toDouble + t.acc("index").bytesWritten)
    t.extra("store", "files_written", Legs.storeFiles(b).toDouble)
    t.extra("store", "bytes_per_input_byte", b.bytesOnDisk.toDouble / tree.bytes)
    t.extra("index", "jobs", t.acc("index").jobs.toDouble)
    val report = graft.quality.QualityMonitor.report(c.spark.read.parquet(b.store), "chunk_size_tokens").collect().head
    t.extra("quality", "keep_frac", report.getAs[Double]("in_range_pct") / 100)
  }

  // ------------------------------------------------------------------ search

  def search(c: Ctx): Double = {
    val (_, genS) = generate(sourceTree(c, SearchFiles, "src", c.seed))
    val queries = Corpus.queries(c.seed, 4096)
    val warmQueries = Corpus.queries(c.seed + 1, Legs.QueryKinds.size)
    val (state, buildS) = secs {
      val u = untraced(c.spark)
      val built = Legs.ingest(c.spark, u, c.dir("src3"), c.dir("store"), c.seed)
      Legs.buildBm25(c.spark, u, built, c.dir("bm25"))
      val s = new Legs.SearchState(c.spark, built, c.dir("bm25"))
      warmQueries.zip(Legs.QueryKinds).foreach { case (q, kind) => Legs.query(s, u, kind, q) }
      s
    }

    val cpu0 = c.cpuS
    val probes = Array(0L, 0L) // index partitions read, index scans (IVF kinds, traced runs)
    // whole cycles only, so every run sends the same mix
    val stream = c.measured(repeat(c.seconds, Legs.QueryMix.size) { i =>
      val kind = Legs.QueryMix(i % Legs.QueryMix.size)
      val a0 = c.tracer.acc("search"); val (p0, s0) = (a0.partitionsRead, a0.scans)
      val (rows, wall) = secs(Legs.query(state, c.tracer, kind, queries(i % queries.size)))
      if (kind.startsWith("ivf")) {
        val a1 = c.tracer.acc("search"); probes(0) += a1.partitionsRead - p0; probes(1) += a1.scans - s0
      }
      (kind, queries(i % queries.size), rows, wall)
    })
    val loopS = stream.map(_._4).sum // closed loop: the next query is sent when one returns
    val loopCpu = c.cpuS - cpu0
    val n = stream.size
    c.out.attempted += n
    c.out.opsPerS = n / loopS
    c.out.cpuSPerKop = loopCpu / n * 1000
    c.out.opP50Ms = EtlBench.median(stream.map(_._4 * 1000))

    val (_, batchS) = secs(Legs.batch(state, c.tracer, queries.take(BatchQueries)))
    c.out.attempted += 1
    val batchQps = BatchQueries / batchS

    // checks: every exact IVF answer equals brute force, bit for bit
    stream.filter(_._1 == "ivf_exact").foreach { case (_, q, rows, _) =>
      c.out.check(Checks.exactTopK(Checks.bruteForceTopK(state.ids, state.vecs, Embedders.default.embed(q), Legs.K), rows))
    }
    // recall of the approximate probe on a fixed query set, so it
    // repeats exactly for a seed
    val recall = queries.take(RecallQueries).map { q =>
      val v = Embedders.default.embed(q)
      val got = IvfIndex.searchTopK(state.labeled, state.built.centroids, v, Legs.K, Legs.Index)
        .select("chunk_id").collect().map(_.getString(0)).toSeq
      Checks.recall(Checks.bruteForceTopK(state.ids, state.vecs, v, Legs.K), got)
    }.sum / RecallQueries

    val t = c.tracer; val a = t.acc("search"); val nq = (n + BatchQueries).toDouble
    t.extra("search", "jobs_per_query", a.jobs / nq)
    t.extra("search", "stages_per_query", a.stages / nq)
    t.extra("search", "cpu_ms_per_query", a.cpuNs / 1e6 / nq)
    t.extra("search", "rows_scanned_per_result", a.rowsIn / (nq * Legs.K))
    t.extra("search", "clusters_probed_frac", probes(0).toDouble / math.max(1L, probes(1)) / Legs.Index.nlist)
    t.extra("search", "p95_ms", EtlBench.percentile(stream.map(_._4 * 1000), 0.95))
    t.extra("search", "recall_at_k", recall)
    t.extra("search", "batch_qps", batchQps)
    t.extra("store", "bytes_read_per_query", a.bytesRead / nq)
    val perKind = Legs.QueryKinds.map(k => k -> EtlBench.median(stream.filter(_._1 == k).map(_._4 * 1000)))
    c.out.details ++= Seq("queries" -> n, "p95_ms" -> EtlBench.percentile(stream.map(_._4 * 1000), 0.95),
      "recall_at_k" -> recall, "batch_qps" -> batchQps, "store_rows" -> state.ids.length.toLong,
      "store_bytes" -> state.built.bytesOnDisk, "generate_s" -> genS, "build_s" -> buildS) ++
      perKind.map { case (k, v) => s"p50_ms_$k" -> v }
    genS + buildS
  }

  // ------------------------------------------------------------------ curate

  private def writeCurate(c: Ctx, corpus: Corpus.CurateCorpus, dir: String): Unit = {
    import c.spark.implicits._
    corpus.docs.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/docs")
    corpus.bench.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/bench")
  }

  def curate(c: Ctx): Double = {
    val (corpus, genS) = generate { i =>
      val corpus = Corpus.curateCorpus(c.seed, CurateDocs, NearDupRate)
      writeCurate(c, corpus, c.dir(s"corpus$i"))
      corpus
    }
    val in = c.dir("corpus3")
    val (_, warmS) = secs {
      writeCurate(c, Corpus.curateCorpus(c.seed + 1, WarmupDocs, NearDupRate), c.dir("warm-corpus"))
      Legs.curate(c.spark, untraced(c.spark), c.dir("warm-corpus/docs"), c.dir("warm-corpus/bench"), c.dir("warm"), c.seed)
    }
    val passes = c.measured(repeat(c.seconds) { i =>
      val cpu0 = c.cpuS
      val (cur, wall) = secs(Legs.curate(c.spark, c.tracer, s"$in/docs", s"$in/bench", c.dir(s"pass$i"), c.seed))
      val cpu = c.cpuS - cpu0
      if (i > 0) FileUtils.deleteQuietly(new File(c.dir(s"pass${i - 1}")))
      c.out.attempted += 8 // layer calls per pass
      (cur, wall, cpu)
    })
    val docs = corpus.docs.size
    c.out.opsPerS = EtlBench.median(passes.map(p => docs / p._2))
    c.out.cpuSPerKop = EtlBench.median(passes.map(p => p._3 / docs * 1000))
    c.out.opP50Ms = EtlBench.median(passes.map(_._2 * 1000))
    val f = Legs.curateFacts(c.spark, passes.last._1)
    c.out.check(Checks.curate(corpus, f))

    if (c.tracer.enabled) {
      val t = c.tracer
      t.extra("dedup", "drop_frac", 1 - (f.nearRows.toDouble - (f.keptRows - f.semanticRows)) / docs)
      t.extra("dedup", "pairs_verified", (f.nearPairs.size + f.contaminated.size).toDouble)
      val keep = c.spark.read.parquet(s"${passes.last._1.dir}/quality").filter("keep").count()
      t.extra("quality", "keep_frac", keep.toDouble / f.nearRows)
      t.extra("text", "redactions", f.redactions.values.sum.toDouble)
    }
    c.out.details ++= Seq("pass_wall_s" -> passes.map(_._2).mkString(","), "pass_cpu_s" -> passes.map(_._3).mkString(","),
      "passes" -> passes.size, "docs" -> docs, "near_dup_pairs" -> f.nearPairs.size,
      "redactions" -> f.redactions.values.sum, "contaminated" -> f.contaminated.size,
      "semantic_kept" -> f.semanticRows, "generate_s" -> genS, "warmup_s" -> warmS)
    genS + warmS
  }
}
