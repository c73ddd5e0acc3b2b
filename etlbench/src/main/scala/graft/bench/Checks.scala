package graft.bench

/** Correctness checks over collected outputs. Pure functions, so the
  * benchmark's tests can feed them deliberately corrupted outputs.
  * Each returns the failures it found; an empty list means the check
  * passed.
  */
object Checks {

  /** Facts about an ingested store, collected after the run. */
  final case class StoreFacts(
      rows: Long,
      chunksPredicted: Long, // Σ total_chunks over the stored sources
      sources: Set[String], // relative to the source root
      collections: Set[String],
      indexRows: Long,
      clusterIds: Set[Int],
      nlist: Int,
      badDims: Long
  )

  def ingest(tree: Corpus.SourceTree, f: StoreFacts, prefix: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    if (f.sources != tree.validSources) {
      val missing = tree.validSources -- f.sources
      val extra = f.sources -- tree.validSources
      out += s"stored sources differ: ${missing.size} missing (${missing.take(3).mkString(",")}), " +
        s"${extra.size} unexpected (${extra.take(3).mkString(",")})"
    }
    val dropped = f.sources.intersect(tree.droppedFiles ++ tree.duplicateFiles)
    if (dropped.nonEmpty) out += s"empty, corrupt or duplicate files reached the store: ${dropped.take(3).mkString(",")}"
    val wantCollections = tree.folders.map(prefix + _)
    if (f.collections != wantCollections)
      out += s"collections ${f.collections.toSeq.sorted.mkString(",")} != ${wantCollections.toSeq.sorted.mkString(",")}"
    if (f.rows != f.chunksPredicted) out += s"store rows ${f.rows} != chunks of stored sources ${f.chunksPredicted}"
    if (f.rows == 0) out += "store is empty"
    if (f.indexRows != f.rows) out += s"index rows ${f.indexRows} != store rows ${f.rows}"
    if (!f.clusterIds.forall(c => c >= 0 && c < f.nlist)) out += "cluster ids outside [0, nlist)"
    if (f.badDims != 0) out += s"${f.badDims} embeddings with the wrong dimension"
    out.result()
  }

  /** Brute-force cosine top-k with the library's arithmetic: left-to-right
    * double accumulation, cosine = dot / (‖a‖·‖b‖), zero norms excluded;
    * ties broken by ascending id.
    */
  def bruteForceTopK(ids: Array[String], vecs: Array[Array[Float]], q: Array[Float], k: Int): Seq[(String, Double)] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0; val n = math.min(a.length, b.length)
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    val qn = math.sqrt(dot(q, q))
    val scored = ids.indices.iterator.flatMap { i =>
      val d = math.sqrt(dot(vecs(i), vecs(i))) * qn
      if (d == 0.0) None else Some(ids(i) -> dot(vecs(i), q) / d)
    }.toArray
    scored.sortBy { case (id, s) => (-s, id) }.take(k).toSeq
  }

  /** Exact search must return the brute-force top-k: same ids in the same
    * order, bit-identical scores.
    */
  def exactTopK(expected: Seq[(String, Double)], got: Seq[(String, Double)]): Seq[String] =
    if (expected == got) Nil
    else Seq(s"exact top-k ${got.map(_._1).mkString(",")} != brute force ${expected.map(_._1).mkString(",")}")

  /** Share of the exact top-k ids that an approximate result contains. */
  def recall(expected: Seq[(String, Double)], got: Seq[String]): Double =
    if (expected.isEmpty) 1.0 else expected.count(e => got.contains(e._1)).toDouble / expected.size

  /** What a curation pass produced, collected after the run. */
  final case class CurateFacts(
      exactRows: Long,
      nearPairs: Set[(Long, Long)],
      nearRows: Long,
      redactions: Map[String, Int],
      contaminated: Set[(Long, Long)],
      keptRows: Long,
      semanticRows: Long
  )

  def curate(c: Corpus.CurateCorpus, f: CurateFacts): Seq[String] = {
    val out = Seq.newBuilder[String]
    val n = c.docs.size.toLong
    if (f.exactRows != n - c.exactCopies) out += s"exact dedup kept ${f.exactRows}, planted ${n - c.exactCopies}"
    if (f.nearPairs != c.nearDupPairs)
      out += s"near-dup pairs: ${(c.nearDupPairs -- f.nearPairs).size} missed, ${(f.nearPairs -- c.nearDupPairs).size} spurious"
    val wantNear = n - c.exactCopies - c.nearDupPairs.size
    if (f.nearRows != wantNear) out += s"near-dup dedup kept ${f.nearRows}, planted $wantNear"
    val kinds = c.pii.keySet ++ f.redactions.keySet
    kinds.foreach { k =>
      val want = c.pii.getOrElse(k, 0); val got = f.redactions.getOrElse(k, 0)
      if (want != got) out += s"PII $k: $got redacted, $want planted"
    }
    if (f.contaminated != c.contaminated)
      out += s"contamination: ${(c.contaminated -- f.contaminated).size} missed, ${(f.contaminated -- c.contaminated).size} spurious"
    if (f.semanticRows > f.keptRows || f.semanticRows <= 0)
      out += s"semantic dedup kept ${f.semanticRows} of ${f.keptRows}"
    out.result()
  }
}
