package graft.dedup

import graft.SparkTestBase
import org.apache.spark.sql.functions._

class DedupSpec extends SparkTestBase {

  test("exact dedup normalizes case + whitespace, keeps first (K5)") {
    import spark.implicits._
    val df = Seq(
      ("s1", 0, "Hello  World"),
      ("s1", 1, "hello world\n"),
      ("s2", 0, "unique text")
    ).toDF("source", "pos", "text")
    val out = Dedup.exactDedup(df, "text", Seq("source", "pos"))
      .orderBy("source", "pos")
      .collect()
    assert(out.length == 2)
    assert(out(0).getString(2) == "Hello  World") // first occurrence wins
    assert(out(1).getString(2) == "unique text")
  }

  test("line dedup keeps each line at its first corpus position (C4-style)") {
    import spark.implicits._
    val df = Seq(
      (1L, "unique one\nshared banner\nunique two"),
      (2L, "shared banner\nonly here\n\n  \nshared banner"),
      (3L, "shared banner")
    ).toDF("doc_id", "text")
    val got = Dedup
      .lineDedupStats(df, "doc_id", "text")
      .orderBy("doc_id")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // doc 1: 3 lines, all first occurrences; doc 2: 3 non-empty lines
    // (blank/whitespace lines don't count), only "only here" survives;
    // doc 3: its single line is a corpus-wide dup — zero survivors
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 1.0),
      (2L, 3L, 1L, 0.333333),
      (3L, 1L, 0L, 0.0)
    ))
  }

  // Live vs reused shuffle exchanges of the non-AQE physical plan.
  // AQE's initial plan hides EnsureRequirements exchanges (they are
  // inserted during stage preparation) and applies reuse only at
  // runtime, so the assertion is made on the classic planner, where
  // ReuseExchange rewrites every canonical duplicate to a
  // ReusedExchangeExec — the same canonical-equality test AQE's
  // stage cache applies per materialized stage.
  private def shuffleExchanges(
      mk: => org.apache.spark.sql.DataFrame): (Seq[String], Int) = {
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = mk.queryExecution.executedPlan
      val live = plan.collect { case e: ShuffleExchangeLike => e.outputPartitioning.toString }
      val reused = plan.collect { case r: ReusedExchangeExec => r }.size
      (live, reused)
    } finally spark.conf.unset("spark.sql.adaptive.enabled")
  }

  test("lineDedupStats plans ONE (doc,line) aggregate exchange shared by both branches") {
    // r20: the firsts branch carries a no-op c >= 1 filter purely so
    // column pruning cannot specialize its partial aggregate — both
    // branches' hash(doc_id, ln) exchanges must stay canonically equal
    // or the corpus scan+tokenize+explode runs twice again.
    val docs = spark.read.parquet(s"${sf()}/documents.parquet")
    val (live, reused) = shuffleExchanges(Dedup.lineDedupStats(docs, "doc_id", "text"))
    assert(live.count(p => p.contains("doc_id") && p.contains("ln")) == 1 && reused >= 1,
      s"the (doc_id, ln) aggregate exchange must plan once and be reused (live=$live, reused=$reused)")
  }

  test("scrubDuplicateSpans plans ONE input exchange shared by all three branches") {
    // r20: the vacuous pmod(doc_id, 1) = 0 filter on the dup-count
    // branch keeps doc_id referenced so all three branches (dup count,
    // start aggregation, rebuild) see a canonically equal repartition
    // subtree — one corpus scan + one text exchange instead of three.
    val docs = spark.read.parquet(s"${sf()}/documents.parquet").repartition(4)
    val (live, reused) = shuffleExchanges(
      Dedup.scrubDuplicateSpans(docs, "doc_id", "text", n = 8, hashPrefilter = Some(false)))
    assert(live.count(_.contains("RoundRobin")) == 1 && reused >= 2,
      s"all three branches must share one live input exchange (live=$live, reused=$reused)")
  }

  test("empty/whitespace docs have ZERO shingles everywhere — no vacuous near-dup pairs") {
    import spark.implicits._
    val df = Seq((1L, ""), (2L, "   \n  "), (3L, "real content here still")).toDF("doc_id", "text")
    val sh = df.select(Dedup.distinctShingles(col("text"), 3).as("s")).collect()
    assert(sh(0).getSeq[String](0).isEmpty && sh(1).getSeq[String](0).isEmpty)
    // two empty docs must NOT pair up as jaccard-1.0 near-dups
    val pairs = Dedup.minHashLshPairs(df, "doc_id", "text", shingleSize = 3, numHashes = 32, bands = 8, jaccardThreshold = 0.8)
    assert(pairs.count() == 0)
  }

  test("dedup is idempotent") {
    import spark.implicits._
    val df = Seq(("a", 0, "x y"), ("b", 1, "X  Y"), ("c", 2, "z")).toDF("source", "pos", "text")
    val once = Dedup.exactDedup(df, "text", Seq("source", "pos"))
    val twice = Dedup.exactDedup(once, "text", Seq("source", "pos"))
    assert(once.count() == twice.count())
  }

  test("exactDedup agg-join keeps exactly the window-reference winners") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // several duplicate groups with shuffled arrival order + normalization
    val rows = Seq(
      ("s3", 2, "Alpha  beta"), ("s1", 0, "alpha beta"), ("s2", 1, " ALPHA BETA "),
      ("s1", 5, "gamma"), ("s0", 9, "GAMMA"),
      ("s7", 1, "unique one"), ("s7", 2, "unique two"))
    val df = rows.toDF("source", "pos", "text")
    val got = Dedup.exactDedup(df, "text", Seq("source", "pos"))
      .orderBy("source", "pos").collect().toSeq
    val w = Window.partitionBy(Dedup.contentHash(col("text"))).orderBy(col("source"), col("pos"))
    val ref = df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
      .orderBy("source", "pos").collect().toSeq
    assert(got == ref)
  }

  test("exactDedupAggJoin: no window in the plan, same winners as the window path") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"payload text ${i % 7}")).toDF("id", "text")
    val keyed = df.withColumn("__h", Dedup.contentHash(col("text")))
    val dd = Dedup.exactDedupAggJoin(keyed, "__h", Seq("id"))
    val plan = dd.queryExecution.executedPlan.toString
    // winner selection must be an aggregate (map-side combinable), not a window
    assert(!plan.contains("Window"), s"keep-first must not plan a window:\n$plan")
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"),
      s"expected aggregate winner selection:\n$plan")
    val viaWindow = Dedup.exactDedupByKey(keyed, "__h", Seq("id"))
    assert(dd.drop("__h").orderBy("id").collect().toSeq ==
      viaWindow.drop("__h").orderBy("id").collect().toSeq)
  }

  test("exactDedupAggJoin keeps one representative of a null-key group (window parity)") {
    import spark.implicits._
    // a null key group AND a null inside the tiebreak tuple — both must
    // survive the semi-join exactly as they survive the window path
    val df = Seq(
      (Some("k1"), Some(3L)), (Some("k1"), Some(1L)),
      (None: Option[String], Some(7L)), (None: Option[String], Some(2L)),
      (Some("k2"), None: Option[Long]), (Some("k2"), Some(9L))
    ).toDF("key", "ord")
    val viaJoin = Dedup.exactDedupAggJoin(df, "key", Seq("ord"))
      .orderBy(col("key").asc_nulls_first, col("ord").asc_nulls_first).collect().toSeq
    val viaWindow = Dedup.exactDedupByKey(df, "key", Seq("ord"))
      .orderBy(col("key").asc_nulls_first, col("ord").asc_nulls_first).collect().toSeq
    assert(viaJoin == viaWindow)
    assert(viaJoin.size == 3, s"one winner per group incl. the null-key group: $viaJoin")
  }

  test("exactDedup routes: property differential — window ≡ agg+semi-join ≡ reference on generated corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // ScalaCheck-generated rows with null keys, null tiebreak heads,
    // and heavy duplicate groups: the two routes must agree with each
    // other AND with an in-memory nulls-first minimum — across the
    // input space, not just the pinned fixtures above. idx is unique,
    // so (ord, idx) always uniquely identifies a row within a group
    // (the aggJoin contract).
    val rowGen = for {
      key <- Gen.frequency(
        6 -> Gen.chooseNum(0, 5).map(i => Option(s"k$i")),
        1 -> Gen.const(Option.empty[String]))
      ord <- Gen.frequency(
        5 -> Gen.chooseNum(0L, 3L).map(Option(_)),
        1 -> Gen.const(Option.empty[Long]))
    } yield (key, ord)
    val rows = Gen.listOfN(400, rowGen).pureApply(Gen.Parameters.default, Seed(1604L))
      .zipWithIndex.map { case ((k, o), i) => (k, o, i.toLong) }
    val df = rows.toDF("key", "ord", "idx")
    def sorted(d: org.apache.spark.sql.DataFrame) = d
      .collect().map(r => (Option(r.getString(0)), if (r.isNullAt(1)) None else Some(r.getLong(1)), r.getLong(2)))
      .sortBy(_._3).toSeq
    val viaJoin = sorted(Dedup.exactDedupAggJoin(df, "key", Seq("ord", "idx")))
    val viaWindow = sorted(Dedup.exactDedupByKey(df, "key", Seq("ord", "idx")))
    // reference: one winner per key group (null key = its own group),
    // minimum by (ord ASC NULLS FIRST, idx) — Spark's default asc order
    val ref = rows.groupBy(_._1).values.map { g =>
      g.minBy { case (_, o, i) => (o.isDefined, o.getOrElse(Long.MinValue), i) }
    }.toSeq.sortBy(_._3)
    assert(viaJoin == viaWindow, "agg+semi-join diverged from the window route")
    assert(viaWindow == ref, "window route diverged from the in-memory nulls-first minimum")
    assert(ref.exists(_._1.isEmpty), "generator should produce a null-key group")
    assert(ref.exists(_._2.isEmpty), "some group should be won by a null tiebreak head")
  }

  test("exactDedupByKey on a narrow frame keeps the payload out of every exchange") {
    import spark.implicits._
    val df = (1 to 50).map(i => (i.toLong, s"payload text $i ${i % 7}")).toDF("id", "text")
    val narrow = df
      .withColumn("__h", Dedup.contentHash(col("text")))
      .select("id", "__h")
    val dd = Dedup.exactDedupByKey(narrow, "__h", Seq("id"))
    val plan = dd.queryExecution.executedPlan.toString
    "Exchange[^\\n]*".r.findAllIn(plan).foreach(ex => assert(!ex.contains("text"), ex))
    assert(dd.count() == df.select("text").distinct().count())
  }

  test("minhash LSH finds near-identical docs and estimates jaccard") {
    import spark.implicits._
    val base = (1 to 60).map(i => s"token$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"token$i").mkString(" ") + " tokenX tokenY"
    val other = (100 to 160).map(i => s"other$i").mkString(" ")
    val df = Seq((1L, base), (2L, nearDup), (3L, other)).toDF("id", "text")
    val pairs = Dedup.minHashLshPairs(df, "id", "text", jaccardThreshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getLong(0) == 1L && pairs(0).getLong(1) == 2L)
    assert(pairs(0).getDouble(2) > 0.5)
  }

  test("simhash: identical docs at distance 0, near dups close, distinct far") {
    import spark.implicits._
    val a = "the quick brown fox jumps over the lazy dog again and again today"
    val b = a.replace("today", "tomorrow")
    val c = "completely different content about spark query planning internals"
    val df = Seq((1L, a), (2L, a), (3L, b), (4L, c)).toDF("id", "text")
    val sigs = df.select(col("id"), Dedup.simHash(col("text")).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L))
    assert(java.lang.Long.bitCount(sigs(1L) ^ sigs(3L)) < java.lang.Long.bitCount(sigs(1L) ^ sigs(4L)))
  }

  test("ngram jaccard pairs agree with LSH candidates above threshold") {
    import spark.implicits._
    val base = (1 to 40).map(i => s"w$i").mkString(" ")
    val dup = (1 to 40).map(i => s"w$i").mkString(" ") // exact token set
    val df = Seq((1L, "en", base), (2L, "en", dup), (3L, "de", base))
      .toDF("id", "lang", "text")
    val pairs = Dedup.ngramJaccardPairs(df, "id", "text", "lang", 0.9).collect()
    // only the same-language pair qualifies (blocking)
    assert(pairs.map(r => (r.getLong(1), r.getLong(2))).toSet == Set((1L, 2L)))
    assert(pairs.head.getDouble(3) == 1.0)
  }

  test("simhash pairs = exhaustive Hamming scan at maxHamming=6 (pigeonhole banding)") {
    import spark.implicits._
    // Docs engineered to land at a spread of Hamming distances: shared
    // base tokens with varying numbers of substitutions.
    val mk = (subs: Int) =>
      ((1 to (30 - subs)).map(i => s"base$i") ++ (1 to subs).map(i => s"alt${i}x")).mkString(" ")
    val docs = (0 to 9).map(i => (i.toLong, mk(i)))
    val df = docs.toDF("id", "text")
    val maxHamming = 6

    val got = Dedup.simHashPairs(df, "id", "text", maxHamming)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

    // exhaustive truth: all pairs within maxHamming by direct signature scan
    val sigs = df.select(col("id"), Dedup.simHash(col("text")).as("sig"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = (for {
      a <- docs.map(_._1); b <- docs.map(_._1) if a < b
      d = java.lang.Long.bitCount(sigs(a) ^ sigs(b)) if d <= maxHamming
    } yield (a, b, d)).toSet

    assert(want.nonEmpty, "test fixture should produce at least one close pair")
    assert(got == want)
  }

  test("near-dup clusters: chains close transitively, representatives are min-id") {
    import spark.implicits._
    // components: {1,2,3} via chain 1-2, 2-3 (1-3 never paired — the
    // case pairwise dedup gets wrong), {7,9}, and 5 as a singleton
    val pairs = Seq((2L, 3L), (1L, 2L), (7L, 9L)).toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 9L -> 7L))

    val df = Seq(1L, 2L, 3L, 5L, 7L, 9L).toDF("doc_id")
    val kept = Dedup.dedupByNearDup(df, "doc_id", pairs).collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 5L, 7L)) // one rep per cluster + untouched singleton

    // a long chain still converges (diameter > 2 exercises iteration)
    val chain = (1L to 12L).sliding(2).map(s => (s.head, s.last)).toSeq.toDF("id_a", "id_b")
    val chainGot = Dedup.nearDupClusters(chain).collect().map(r => r.getLong(1)).distinct
    assert(chainGot.toSeq == Seq(1L))

    assert(Dedup.nearDupClusters(pairs.limit(0)).count() == 0) // empty pair list
  }

  test("near-dup clusters converge on a 60-node chain (diameter far past the round bound)") {
    import spark.implicits._
    // plain min-label propagation needs `diameter` rounds — a 60-edge
    // chain would blow the default 25-round bound; the small-star/
    // large-star contraction converges in O(log n) rounds regardless
    val chain = (1L to 60L).sliding(2).map(s => (s.last, s.head)).toSeq.toDF("id_a", "id_b")
    val got = Dedup.nearDupClusters(chain).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.length == 60 && got.forall(_._2 == 1L))
  }

  test("near-dup clusters match a reference union-find on random graphs") {
    import spark.implicits._
    val rnd = new scala.util.Random(4217)
    for (trial <- 1 to 3) {
      val n = 40 + trial * 10
      val edges = (1 to n).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(x => x -> find(x)).toMap
      val got = Dedup.nearDupClusters(edges.toDF("id_a", "id_b")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == want, s"trial $trial")
    }
  }

  test("bloom-prefiltered decontamination equals the exact path (no false negatives)") {
    import spark.implicits._
    val benchDoc = (1 to 20).map(i => s"bench$i").mkString(" ") // 13 distinct 8-grams
    val leaked = ((1 to 20).map(i => s"bench$i") ++ (1 to 5).map(i => s"pad$i")).mkString(" ")
    val partial = ((1 to 10).map(i => s"bench$i") ++ (1 to 15).map(i => s"other$i")).mkString(" ")
    val clean = (1 to 25).map(i => s"clean$i").mkString(" ")
    val corpus = Seq((1L, leaked), (2L, partial), (3L, clean), (100L, benchDoc)).toDF("id", "text")
    val bench = corpus.filter(col("id") === 100L)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = key(Dedup.containmentPairs(corpus, bench, "id", "text", n = 8, threshold = 0.5))
    // leaked contains all 13 bench grams (containment 1.0); partial has
    // 3 of 13 (the 8-grams fully inside bench1..bench10) < 0.5; clean 0
    assert(exact.map(t => (t._1, t._2)) == Set((1L, 100L)))
    // identical at a loose AND a tight fpp — false positives only cost
    // join input, never results
    for (fpp <- Seq(0.5, 0.01)) {
      val bloom = key(
        Dedup.bloomContainmentPairs(corpus, bench, "id", "text", n = 8, threshold = 0.5, fpp = fpp))
      assert(bloom == exact, s"fpp=$fpp bloom=$bloom exact=$exact")
    }
  }

  test("fast (xxh64) and portable (md5) simhash find the same pairs on separated clusters") {
    import spark.implicits._
    // Three tight clusters far apart in token space: identical docs,
    // one-token variants, and disjoint-vocab docs. Clusters like these
    // sit far from the Hamming cut, so ANY well-mixed 64-bit token hash
    // must produce the same pair set — a fast path that drifts (bad
    // seed, truncated hash, bit-order bug) separates here. (On the
    // dense sf corpora the boundary pairs legitimately differ by hash;
    // that is why q_simhash_fast is rows-only.)
    val clusterA = (1 to 40).map(i => s"alpha$i").mkString(" ")
    val clusterB = (1 to 40).map(i => s"beta$i").mkString(" ")
    val df = Seq(
      (1L, clusterA), (2L, clusterA), (3L, clusterA.replace("alpha1 ", "alpha1x ")),
      (4L, clusterB), (5L, clusterB)
    ).toDF("id", "text")
    def pairsOf(portable: Boolean) =
      Dedup.simHashPairs(df, "id", "text", maxHamming = 8, portableHash = portable)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fast = pairsOf(portable = false)
    val md5 = pairsOf(portable = true)
    assert(fast == md5, s"fast=$fast md5=$md5")
    assert(fast.contains((1L, 2L)) && fast.contains((4L, 5L)))
    assert(!fast.exists { case (a, b) => a <= 3 && b >= 4 }) // no cross-cluster pair
    // identical text must still collide exactly under the fast hash
    val sigs = df.select(col("id"), Dedup.simHash(col("text")).as("sig")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sigs(1L) == sigs(2L) && sigs(4L) == sigs(5L) && sigs(1L) != sigs(4L))
  }

  test("simhash pairs complete at maxHamming=0 and maxHamming=63 band edges") {
    import spark.implicits._
    val df = Seq((1L, "a b c d e f"), (2L, "a b c d e f"), (3L, "q r s t u v")).toDF("id", "text")
    val exactPairs = Dedup.simHashPairs(df, "id", "text", maxHamming = 0).collect()
    assert(exactPairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
    // 64 single-bit bands must not crash or miss the identical pair
    val wide = Dedup.simHashPairs(df, "id", "text", maxHamming = 63)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(wide.contains((1L, 2L)))
  }

  test("bitmap jaccard vocab fence throws loudly on misuse") {
    import spark.implicits._
    val df = (1 to 30).map(i => (i.toLong, "b", (1 to 10).map(j => s"tok${i}_$j").mkString(" ")))
      .toDF("id", "block", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.jaccardBitmapPairs(df, "id", "text", "block", 0.9, maxVocab = 100).collect()
    }
    assert(e.getMessage.contains("maxVocab"))
  }

  test("embedding near-dup finds same-direction vectors") {
    import spark.implicits._
    val v = Array.fill(8)(0.5f)
    val v2 = v.map(x => x * 0.999f) // same direction
    val w = Array(1f, -1f, 1f, -1f, 1f, -1f, 1f, -1f)
    val df = Seq((1L, v.toSeq), (2L, v2.toSeq), (3L, w.toSeq)).toDF("id", "vec")
    val pairs = Dedup.embeddingNearDupPairs(df, "id", "vec", 0.99, signBits = 4).collect()
    assert(pairs.map(r => (r.getLong(0), r.getLong(1))).toSet == Set((1L, 2L)))
  }

  test("adaptive sign bits track corpus size and the default resolves to them") {
    import spark.implicits._
    // width ~ log2(n / target), clamped to [4, 24]
    assert(Dedup.adaptiveSignBits(0L) == 4)
    assert(Dedup.adaptiveSignBits(2000L) == 4)      // graded driver scales stay at 4
    assert(Dedup.adaptiveSignBits(200000L) == 6)    // the sf10 probe corpus
    assert(Dedup.adaptiveSignBits(1L << 40) == 24)  // clamp: petabyte-range counts
    assert((4 to 23).forall(b =>
      Dedup.adaptiveSignBits(1L << b) <= Dedup.adaptiveSignBits(1L << (b + 1))))

    // small corpus: the adaptive default picks 4 bits — identical
    // output to the explicitly pinned key the graded query uses
    val vecs = (1 to 40).map { i =>
      (i.toLong, Array.tabulate(8)(d => (((i * 7 + d * 13) % 19) - 9).toFloat / 9f).toSeq)
    }.toDF("id", "vec")
    val auto = Dedup.embeddingNearDupPairs(vecs, "id", "vec", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val pinned = Dedup.embeddingNearDupPairs(vecs, "id", "vec", 0.5, signBits = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == pinned && auto.nonEmpty)
  }

  test("wider sign-bit blocking = brute-force pairs filtered to key agreement") {
    import spark.implicits._
    val vecs = (1 to 60).map { i =>
      (i.toLong, Array.tabulate(12)(d => (((i * 11 + d * 5) % 17) - 8).toFloat / 8f))
    }
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val got = Dedup.embeddingNearDupPairs(df, "id", "vec", 0.3, signBits = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def key(v: Array[Float]): Long =
      (0 until 6).map(i => if (v(i) >= 0) 1L << i else 0L).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && key(va) == key(vb) && cos(va, vb) >= 0.3
    } yield (ia, ib)).toSet
    assert(got == want && want.nonEmpty)
  }

  test("banded blocking: pairs = any-band agreement, bucket exchanges vector-free") {
    import spark.implicits._
    val vecs = (1 to 60).map { i =>
      (i.toLong, Array.tabulate(16)(d => (((i * 11 + d * 5) % 17) - 8).toFloat / 8f))
    }
    val df = vecs.map { case (id, v) => (id, v.toSeq) }.toDF("id", "vec")
    val got = Dedup.embeddingNearDupPairsBanded(df, "id", "vec", 0.3, bands = 4, bitsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def bandKey(v: Array[Float], b: Int): Long =
      (0 until 4).map(i => if (v(b * 4 + i) >= 0) 1L << i else 0L).sum
    def cos(a: Array[Float], b: Array[Float]): Double = {
      val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
      dot / (math.sqrt(a.map(x => x.toDouble * x).sum) * math.sqrt(b.map(x => x.toDouble * x).sum))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib && (0 until 4).exists(b => bandKey(va, b) == bandKey(vb, b)) && cos(va, vb) >= 0.3
    } yield (ia, ib)).toSet
    assert(got == want && want.nonEmpty)

    // scale shape: the band-bucket candidate exchanges move ids only —
    // vectors attach to the (sparse, deduplicated) candidates later
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    val prevBcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the at-scale shuffle-join shape
    try {
      val exchanges = Dedup.embeddingNearDupPairsBanded(df, "id", "vec", 0.3, 4, 4)
        .queryExecution.executedPlan.collect {
          case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
        }
      val bucketEx = exchanges.filter(_.output.exists(_.name == "bucket"))
      assert(bucketEx.nonEmpty, "expected a band-bucket exchange in the plan")
      assert(
        bucketEx.forall(!_.output.exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])),
        "band-bucket exchange must not carry vector columns")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBcast)
    }
  }

  test("banded OR recovers near-dup pairs a single wide band misses") {
    import spark.implicits._
    // partners differ from their base by ONE sign flip (cosine 14/16 =
    // 0.875): a single 16-bit band always spans the flip ⇒ recall 0;
    // 4×4 banding needs only one clean 4-bit window ⇒ recall 1
    val base = (0 until 20).map { i =>
      Array.tabulate(16)(d => if (((i * 37 + d * 13) % 5) < 2) -1f else 1f)
    }
    val rows = base.zipWithIndex.flatMap { case (v, i) =>
      val w = v.clone(); w(i % 16) = -w(i % 16)
      Seq((i.toLong, v.toSeq), ((100 + i).toLong, w.toSeq))
    }
    val df = rows.toDF("id", "vec")
    val planted = (0 until 20).map(i => (i.toLong, (100 + i).toLong)).toSet
    val single = Dedup.embeddingNearDupPairs(df, "id", "vec", 0.8, signBits = 16)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val banded = Dedup.embeddingNearDupPairsBanded(df, "id", "vec", 0.8, bands = 4, bitsPerBand = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.intersect(planted).isEmpty, "a single wide band should miss every flipped pair")
    assert(planted.subsetOf(banded), "banded OR should recover every flipped pair")
  }

  test("prefix-filtered jaccard matches exhaustive pairs (open-vocab path)") {
    import spark.implicits._
    val base = (1 to 50).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 47).map(i => s"tok$i").mkString(" ") + " xa xb xc"
    val other = (100 to 150).map(i => s"zed$i").mkString(" ")
    val other2 = (100 to 147).map(i => s"zed$i").mkString(" ") + " ya yb yc"
    val df = Seq((1L, base), (2L, nearDup), (3L, other), (4L, other2)).toDF("id", "text")

    val prefix = Dedup.prefixJaccardPairs(df, "id", "text", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).sortBy(x => (x._1, x._2))
    // exhaustive truth via single-block quadratic
    val exact = Dedup.ngramJaccardPairs(df.withColumn("b", org.apache.spark.sql.functions.lit(1)), "id", "text", "b", 0.8)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).sortBy(x => (x._1, x._2))
    assert(prefix.map(x => (x._1, x._2)).toSeq == exact.map(x => (x._1, x._2)).toSeq)
    assert(prefix.map(x => (x._1, x._2)).toSet == Set((1L, 2L), (3L, 4L)))
    prefix.zip(exact).foreach { case (p, e) => assert(math.abs(p._3 - e._3) < 1e-12) }
  }

  test("prefix jaccard: broadcast small-slice path ≡ shuffle big-slice path, plans pinned") {
    import spark.implicits._
    val docs = (1 to 30).map { i =>
      // overlapping vocab so candidates exist across several pairs
      val toks = (i to i + 40).map(j => s"w$j").mkString(" ")
      (i.toLong, toks)
    }
    val df = docs.toDF("id", "text")

    // Disable size-stat auto-broadcast for the plan assertions: on
    // tiny checkpointed test data Catalyst broadcasts everything via
    // statistics anyway (as AQE also would at runtime). What this test
    // pins is the EXPLICIT gate — the hint the operator places, or
    // withholds, independent of any threshold, which is what still
    // fires when a 100k-doc slice's stats exceed 10 MB.
    val thresholdKey = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(thresholdKey)
    try {
      spark.conf.set(thresholdKey, "-1")
      val smallDf = Dedup.prefixJaccardPairs(df, "id", "text", 0.8) // default gate: 30 <= 100k
      val bigDf = Dedup.prefixJaccardPairs(df, "id", "text", 0.8, broadcastMaxDocs = 0L)

      val smallPlan = smallDf.queryExecution.executedPlan.toString
      val bigPlan = bigDf.queryExecution.executedPlan.toString
      assert(smallPlan.contains("BroadcastHashJoin"), "small slice must broadcast the index/verify sides")
      assert(!bigPlan.contains("BroadcastHashJoin"), "big slice must plan shuffle joins (open-vocab scale path)")

      // the gate changes the PLAN, never the ANSWER
      val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), math.round(r.getDouble(2) * 1e9))
      assert(smallDf.collect().map(key).sorted.toSeq == bigDf.collect().map(key).sorted.toSeq)
    } finally spark.conf.set(thresholdKey, prev)
  }

  test("simhash multi-block keys: identical pair set at every block count (pigeonhole exactness)") {
    import spark.implicits._
    // spread of Hamming distances, as in the exhaustive-scan test
    val mk = (subs: Int) =>
      ((1 to (30 - subs)).map(i => s"base$i") ++ (1 to subs).map(i => s"alt${i}x")).mkString(" ")
    val df = (0 to 9).map(i => (i.toLong, mk(i))).toDF("id", "text")
    val d = 3
    val legacy = Dedup.simHashPairs(df, "id", "text", d, blocks = d + 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(legacy.nonEmpty, "fixture should produce close pairs")
    // more blocks = wider subset keys + more of them; the verified SET
    // must not move (the blocked key is capacity planning, not semantics)
    for (b <- Seq(d + 2, d + 4, d + 6)) {
      val got = Dedup.simHashPairs(df, "id", "text", d, blocks = b)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(got == legacy, s"blocks=$b diverged: got=$got want=$legacy")
    }
  }

  test("adaptive simhash block count: legacy banding for small corpora, wider keys at scale") {
    // d=3: tiny corpora keep the classic 4-block single-segment banding
    assert(Dedup.adaptiveSimHashBlocks(5000L, 3) == 4)
    // 5M docs: 4 fixed blocks would collide n²/2^16 ≈ 7.6e8 candidate
    // pairs (the measured sf100 cliff); the cost model widens to 5
    // blocks (10 keys/doc, FP ≈ 3.7e6)
    assert(Dedup.adaptiveSimHashBlocks(5_000_000L, 3) == 5)
    // monotone non-decreasing in n: more data never narrows the key
    val ns = Seq(1L, 1000L, 100_000L, 10_000_000L, 1_000_000_000L)
    val picks = ns.map(Dedup.adaptiveSimHashBlocks(_, 3))
    assert(picks == picks.sorted, s"block picks should not shrink with n: $ns -> $picks")
    // pigeonhole lower bound holds for every d
    for (d <- Seq(0, 1, 6, 8)) {
      assert(Dedup.adaptiveSimHashBlocks(1_000_000L, d) > d)
    }
  }

  test("tiled bucket pair loop crosses tile boundaries without losing or reordering pairs") {
    import spark.implicits._
    // 300 vectors in ONE bucket (> 2 tiles of 128): pair enumeration
    // must cover intra-tile, cross-tile, and boundary pairs identically
    // to an independent O(n²) reference
    val dim = 8
    val vecs = (0 until 300).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.sin(i * 31 + j * 7) + 1.5))
    }
    val df = vecs.toDF("id", "vec")
    val got = Dedup.bruteForceCosinePairs(df, "id", "vec", 0.97)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < dim) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs if ia < ib && cos(va, vb) >= 0.97
    } yield (ia, ib)).toSet
    assert(want.nonEmpty && got == want, s"got ${got.size} want ${want.size}")
  }

  test("blocked brute force: every unordered pair exactly once, cosines bit-equal to a naive loop") {
    import spark.implicits._
    // r19 blocked the all-pairs loop (8 id-hash blocks, within + cross
    // loops). Pin: pair MULTISET identical to an independent O(n²)
    // reference AND cosine doubles bit-identical to the same
    // dims-ordered dot/norm arithmetic — including a zero vector
    // (denom guard) and ids adversarially spread across blocks.
    val dim = 8
    val vecs = (0 until 257).map { i =>
      val v =
        if (i == 13) Array.fill(dim)(0.0) // zero vector: no pairs
        else Array.tabulate(dim)(j => math.sin(i * 17 + j * 5) + 1.2)
      (i.toLong, v)
    }
    // maxRowsHint above the r20 monolithic gate forces the BLOCKED
    // path (the thing this test pins); the gate-equality test below
    // covers the default route
    val got = Dedup
      .bruteForceCosinePairs(vecs.toDF("id", "vec"), "id", "vec", 0.95,
        maxRowsHint = Dedup.BruteForceMonolithicMaxRows + 1)
      .collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
      .sortBy(_._1)
    assert(got.map(_._1).distinct.length == got.length, "duplicate pair emitted")
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var k = 0
      while (k < dim) { dot += a(k) * b(k); na += a(k) * a(k); nb += b(k) * b(k); k += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val want = (for {
      (ia, va) <- vecs; (ib, vb) <- vecs
      if ia < ib
      c = cos(va, vb)
      if math.sqrt(va.map(x => x * x).sum) * math.sqrt(vb.map(x => x * x).sum) != 0.0 && c >= 0.95
    } yield ((ia, ib), c)).sortBy(_._1)
    assert(got.map(_._1).toSeq == want.map(_._1).toSeq, s"pair sets differ: got ${got.length} want ${want.length}")
    got.zip(want).foreach { case (((ga, gb), gc), (_, wc)) =>
      assert(java.lang.Double.doubleToRawLongBits(gc) == java.lang.Double.doubleToRawLongBits(wc),
        s"cosine bits differ for ($ga,$gb): $gc vs $wc")
    }
  }

  test("brute-force size gate: monolithic (default) and blocked routes emit bit-identical pairs") {
    import spark.implicits._
    // r20 gates the graded slice back onto the monolithic loop; this
    // pins that the gate is a pure routing decision — same pair set,
    // same cosine BITS — so the VERDICT-r19 fix can never drift the
    // declared query's output
    val dim = 8
    val vecs = (0 until 211).map { i =>
      (i.toLong, Array.tabulate(dim)(j => math.cos(i * 13 + j * 3) + 1.1))
    }
    val df = vecs.toDF("id", "vec")
    def run(hint: Long) =
      Dedup.bruteForceCosinePairs(df, "id", "vec", 0.95, maxRowsHint = hint)
        .collect()
        .map(r => ((r.getLong(0), r.getLong(1)), java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
        .sortBy(_._1)
    val mono = run(vecs.length.toLong) // ≤ gate → monolithic
    val blocked = run(Dedup.BruteForceMonolithicMaxRows + 1) // > gate → blocked
    assert(mono.nonEmpty && mono.toSeq == blocked.toSeq)
  }

  test("scrubDuplicateSpans removes duplicated 8-gram cover from every copy, keeps order") {
    import spark.implicits._
    val boiler = "all rights reserved contact us terms of service" // 8 tokens
    val df = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"one two three $boiler"),
      (3L, "totally unique words that never repeat anywhere else here"),
      (4L, boiler) // fully covered -> scrubbed empty
    ).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(out(1L) == ("alpha beta gamma delta", 8L))
    assert(out(2L) == ("one two three", 8L))
    assert(out(3L) == ("totally unique words that never repeat anywhere else here", 0L))
    assert(out(4L) == ("", 8L))
  }

  test("scrubDuplicateSpans: within-doc repetition counts as duplication; overlaps union") {
    import spark.implicits._
    val span = "a b c d e f g h" // repeated twice in one doc
    val df = Seq((1L, s"x $span y $span z")).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8).head()
    assert(out.getString(1) == "x y z", out.getString(1))
    assert(out.getLong(2) == 16L)
  }

  test("scrubDuplicateSpans: randomized differential vs a brute-force reference") {
    import spark.implicits._
    // small vocab + short docs force heavy gram collisions, so the
    // span-merge walk sees adjacent, overlapping, doc-start, doc-end
    // and whole-doc covers; seeded for reproducibility
    val rnd = new scala.util.Random(1404L)
    val vocab = Vector("aa", "bb", "cc", "dd", "ee")
    val n = 3
    val docs = (1L to 60L).map { id =>
      val len = rnd.nextInt(12) // 0..11 tokens — includes < n docs
      (id, Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    // brute-force reference: count n-grams corpus-wide, cover every
    // occurrence of a duplicated gram, rebuild by position filter
    val toks = docs.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    for ((_, a) <- toks; i <- 0 to a.length - n)
      counts.updateWith(a.slice(i, i + n).mkString(" "))(c => Some(c.getOrElse(0) + 1))
    val want = toks.map { case (id, a) =>
      val covered = (for {
        i <- 0 to a.length - n
        if counts(a.slice(i, i + n).mkString(" ")) > 1
        p <- i until i + n
      } yield p).toSet
      val kept = a.indices.filterNot(covered).map(a)
      (id, kept.mkString(" "), (a.length - kept.size).toLong)
    }.sortBy(_._1)
    val got = Dedup.scrubDuplicateSpans(docs.toDF("doc_id", "text"), "doc_id", "text", n = n)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(got == want)
    // sanity on coverage of the interesting shapes
    assert(want.exists(_._2.isEmpty), "fixture should fully scrub some doc")
    assert(want.exists(w => w._3 > 0 && w._2.nonEmpty), "fixture should partially scrub some doc")
  }

  test("scrubDuplicateSpans: property differential — all three routes equal brute force on 124 generated corpora") {
    import spark.implicits._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // ScalaCheck-generated corpora (VERDICT r15 #5): tiny vocab + short
    // docs force heavy gram collisions, so the generated set covers
    // adjacent/overlapping/doc-start/doc-end/whole-doc covers, docs
    // shorter than n, empty docs, and zero-dup corpora. A classic
    // forAll would pay ~3 Spark actions per case (the bloom route is
    // eager); instead every corpus gets a disjoint token namespace
    // ("c{k}x" prefix), so the union scrubs EXACTLY like 124
    // independent runs (grams cannot collide across corpora — equal
    // grams require equal prefixes) and all cases ride 3 engine runs.
    val n = 3
    val tokenGen = Gen.chooseNum(0, 4).map(i => s"t$i")
    val docGen = for {
      len <- Gen.chooseNum(0, 12)
      toks <- Gen.listOfN(len, tokenGen)
    } yield toks.mkString(" ")
    val corpusGen = for {
      nDocs <- Gen.chooseNum(0, 18)
      docs <- Gen.listOfN(nDocs, docGen)
    } yield docs
    val generated = Gen.listOfN(120, corpusGen)
      .pureApply(Gen.Parameters.default, Seed(20260816L))
    // engineered edges the generator might miss: single doc (nothing
    // cross-doc), all-dup corpus (every gram duplicated — the
    // degenerate-route shape), empty-text docs, empty corpus
    val edges = Seq(
      Seq("p q r s p q r s"),
      Seq.fill(5)("p q r s t"),
      Seq("", "", ""),
      Seq.empty[String])
    val corpora = (generated ++ edges).zipWithIndex
    val rows = corpora.flatMap { case (docs, k) =>
      docs.zipWithIndex.map { case (text, i) =>
        val prefixed = text.split("\\s+").filter(_.nonEmpty).map(t => s"c${k}x$t").mkString(" ")
        (k * 1000L + i, prefixed)
      }
    }
    // brute-force reference over the union (namespaces make it equal
    // to per-corpus brute force)
    val toks = rows.map { case (id, t) => id -> t.split("\\s+").filter(_.nonEmpty) }
    val counts = scala.collection.mutable.HashMap.empty[String, Int]
    for ((_, a) <- toks; i <- 0 to a.length - n)
      counts.updateWith(a.slice(i, i + n).mkString(" "))(c => Some(c.getOrElse(0) + 1))
    val want = toks.map { case (id, a) =>
      val covered = (for {
        i <- 0 to a.length - n
        if counts(a.slice(i, i + n).mkString(" ")) > 1
        p <- i until i + n
      } yield p).toSet
      val kept = a.indices.filterNot(covered).map(a)
      (id, kept.mkString(" "), (a.length - kept.size).toLong)
    }.sortBy(_._1)
    assert(want.exists(_._3 > 0), "generator should plant duplicates")
    assert(want.exists(w => w._3 == 0 && w._2.nonEmpty), "generator should leave unique docs")
    val df = rows.toDF("doc_id", "text")
    def run(pf: Boolean, bloomMaxKeys: Long = Dedup.ScrubBloomMaxKeys) =
      Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = n, hashPrefilter = Some(pf),
          bloomMaxKeys = bloomMaxKeys)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(run(false) == want, "no-prefilter route diverges from brute force")
    assert(run(true) == want, "bloom route diverges from brute force")
    assert(run(true, bloomMaxKeys = 0L) == want, "semi-join fallback route diverges from brute force")
  }

  test("scrubDuplicateSpans: hash-prefilter route is bit-identical to the direct count") {
    import spark.implicits._
    val boiler = "all rights reserved contact us terms of service"
    val span = "a b c d e f g h"
    // mixed shapes: cross-doc boilerplate, within-doc repetition,
    // overlap-merge, fully-scrubbed, unique, short (< n tokens), empty
    val df = Seq(
      (1L, s"alpha beta $boiler gamma delta"),
      (2L, s"one two three $boiler"),
      (3L, s"x $span y $span z"),
      (4L, boiler),
      (5L, "totally unique words that never repeat anywhere else here"),
      (6L, "short doc"),
      (7L, "")
    ).toDF("doc_id", "text")
    def run(pf: Boolean, bloomMaxKeys: Long = Dedup.ScrubBloomMaxKeys) =
      Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8, hashPrefilter = Some(pf),
          bloomMaxKeys = bloomMaxKeys)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(run(true) == run(false))
    // bloomMaxKeys = 0 forces the dup-hash set "too big to broadcast"
    // degenerate branch — the r14 semi-join — which must stay
    // bit-identical too (it is the fallback on mostly-duplicated input)
    assert(run(true, bloomMaxKeys = 0L) == run(false))
  }

  test("scrubDuplicateSpans: bloom route plans no join on the gram hash; fallback route does") {
    import spark.implicits._
    val boiler = "common boilerplate sentence appearing in many documents here now"
    val df = (1 to 40).map(i => (i.toLong, s"doc $i unique${i}a unique${i}b $boiler"))
      .toDF("doc_id", "text")
    // bloom route: the dup-hash set reaches the stream as a broadcast
    // bloom + codegen'd filter — the full gram stream must NOT be
    // re-exchanged through a JOIN keyed on __h (the r14 anti-pattern
    // the pinned sf100r A/B measured at +19% shuffle / +32% spill).
    // Asserted on join NODES mentioning the hash column, not on the
    // raw column name appearing anywhere — the stronger "no __h at
    // all" form depended on one optimizer rule inlining the alias
    // (ADVICE r15 #3); a join-keyed assertion survives rule changes.
    def joinLinesOn(plan: String, key: String): Seq[String] =
      plan.linesIterator.filter(l => l.contains("Join") && l.contains(key)).toSeq
    val bloomPlan = Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8,
        hashPrefilter = Some(true))
      .queryExecution.executedPlan.toString
    assert(joinLinesOn(bloomPlan, "__h").isEmpty,
      s"bloom route must not join/exchange on the gram hash:\n$bloomPlan")
    // ...and the probe must be the native codegen'd predicate, not a
    // boxed Scala UDF on the gram stream (VERDICT r15 #1). Asserted on
    // the FILTER lines only since r19: gram GENERATION is deliberately
    // a fused UDF now (TextNormalization.positionalGrams — the
    // interpreted HOF chain it replaced was 19 s of the graded row's
    // 22 s CPU), so "no UDF anywhere in the plan" is no longer the
    // invariant; "the probe predicate is BloomMightContain and no UDF
    // sits in a Filter node" is.
    assert(bloomPlan.toLowerCase.contains("bloommightcontain"),
      s"bloom probe should be the codegen'd BloomMightContain predicate:\n$bloomPlan")
    // tree-walk instead of line matching (ADVICE r19 #4): a wrapped or
    // field-truncated treeString line could hide a boxed-UDF filter
    // from a "same line" string check; FilterExec conditions are
    // inspected directly, descending through the AQE wrapper
    locally {
      import org.apache.spark.sql.catalyst.expressions.ScalaUDF
      import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      def filtersWithUdf(p: SparkPlan): Seq[FilterExec] = {
        val here = p match {
          case f: FilterExec if f.condition.find(_.isInstanceOf[ScalaUDF]).isDefined => Seq(f)
          case _ => Seq.empty
        }
        val kids = p match {
          case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
          case other => other.children
        }
        here ++ kids.flatMap(filtersWithUdf)
      }
      val exec = Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8,
          hashPrefilter = Some(true))
        .queryExecution.executedPlan
      assert(filtersWithUdf(exec).isEmpty,
        s"no Filter node may evaluate a boxed UDF (probe must stay native):\n$exec")
    }
    // forced fallback (bloomMaxKeys = 0): the semi-join on __h IS the
    // degenerate-corpus route and must still be planned
    val fallbackPlan = Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8,
        hashPrefilter = Some(true), bloomMaxKeys = 0L)
      .queryExecution.executedPlan.toString
    assert(joinLinesOn(fallbackPlan, "__h").nonEmpty,
      s"fallback route should semi-join on the gram hash:\n$fallbackPlan")
  }

  test("scrubDuplicateSpans: prefilter on a corpus with zero duplicated grams is a no-op") {
    import spark.implicits._
    val df = Seq(
      (1L, "every token in this document happens exactly once overall today"),
      (2L, "and these other words likewise never recur across any documents"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = Dedup.scrubDuplicateSpans(df, "doc_id", "text", n = 8, hashPrefilter = Some(true))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).sortBy(_._1).toSeq
    assert(out.forall(_._3 == 0L), s"nothing should be removed: $out")
    assert(out.map(_._2) == Seq(
      "every token in this document happens exactly once overall today",
      "and these other words likewise never recur across any documents",
      ""))
  }
}
