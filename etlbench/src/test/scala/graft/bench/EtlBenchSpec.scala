package graft.bench

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The benchmark's own tests: `cd etlbench && sbt test`. */
class EtlBenchSpec extends AnyFunSuite {

  private def tmp(): Path = Files.createTempDirectory("etlbench-spec")

  private def tree(root: Path): Map[String, Seq[Byte]] = {
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => root.relativize(p).toString -> Files.readAllBytes(p).toSeq).toMap
    finally s.close()
  }

  test("source tree is byte-identical for a seed and differs across seeds") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    try {
      val ta = Corpus.writeSourceTree(a, 7L, 40)
      val tb = Corpus.writeSourceTree(b, 7L, 40)
      Corpus.writeSourceTree(c, 8L, 40)
      assert(tree(a) == tree(b))
      assert(ta == tb)
      assert(tree(a) != tree(c))
      val exts = tree(a).keys.map(k => k.substring(k.lastIndexOf('.') + 1)).toSet
      assert(Set("html", "hwpx", "hwp").subsetOf(exts))
      assert(ta.validSources.nonEmpty && ta.droppedFiles.nonEmpty && ta.duplicateFiles.nonEmpty)
    } finally Seq(a, b, c).foreach(p => FileUtils.deleteQuietly(p.toFile))
  }

  test("curation corpus and query stream are deterministic per seed and differ across seeds") {
    assert(Corpus.curateCorpus(3L, 120, 0.1) == Corpus.curateCorpus(3L, 120, 0.1))
    assert(Corpus.curateCorpus(3L, 120, 0.1).docs != Corpus.curateCorpus(4L, 120, 0.1).docs)
    assert(Corpus.queries(3L, 50) == Corpus.queries(3L, 50))
    assert(Corpus.queries(3L, 50) != Corpus.queries(4L, 50))
    val c = Corpus.curateCorpus(3L, 200, 0.1)
    assert(c.nearDupPairs.nonEmpty && c.pii.nonEmpty && c.contaminated.nonEmpty && c.exactCopies > 0)
    assert(c.nearDupPairs.forall { case (a, b) => a < b })
    // bloomContainmentPairs skips pairs with equal ids, so the id spaces must not overlap
    assert(c.bench.map(_._1).toSet.intersect(c.docs.map(_._1).toSet).isEmpty)
  }

  test("metric names and units match BENCHMARK.json") {
    val path = Seq("BENCHMARK.json", "../BENCHMARK.json").map(Paths.get(_)).find(Files.exists(_)).get
    val spec = new ObjectMapper().readTree(path.toFile)
    def names(key: String) = spec.get(key).elements().asScala.map(m => m.get("name").asText -> m.get("unit").asText).toSeq
    assert(names("end_to_end") == EtlBench.EndToEnd)
    assert(names("per_layer") == EtlBench.PerLayer)
    assert(spec.get("workloads").elements().asScala.map(_.get("name").asText).toSeq == EtlBench.Workloads)
  }

  test("exact top-k check rejects a changed id, order or score") {
    val ids = Array("a", "b", "c", "d")
    val vecs = Array(Array(1f, 0f), Array(0.9f, 0.1f), Array(0f, 1f), Array(0.5f, 0.5f))
    val want = Checks.bruteForceTopK(ids, vecs, Array(1f, 0f), 3)
    assert(want.map(_._1) == Seq("a", "b", "d"))
    assert(Checks.exactTopK(want, want).isEmpty)
    assert(Checks.exactTopK(want, want.reverse).nonEmpty)
    assert(Checks.exactTopK(want, want.updated(2, "c" -> want(2)._2)).nonEmpty)
    assert(Checks.exactTopK(want, want.updated(0, "a" -> math.nextUp(want(0)._2))).nonEmpty)
    assert(Checks.exactTopK(want, want.take(2)).nonEmpty)
    assert(Checks.recall(want, Seq("a", "x", "d")) == 2.0 / 3)
  }

  test("curation check rejects a missed pair, a PII miscount and spurious contamination") {
    val c = Corpus.curateCorpus(5L, 150, 0.1)
    val n = c.docs.size.toLong
    val good = Checks.CurateFacts(n - c.exactCopies, c.nearDupPairs, n - c.exactCopies - c.nearDupPairs.size,
      c.pii, c.contaminated, 100, 100)
    assert(Checks.curate(c, good).isEmpty)
    assert(Checks.curate(c, good.copy(nearPairs = c.nearDupPairs.tail)).nonEmpty)
    val (k, v) = c.pii.head
    assert(Checks.curate(c, good.copy(redactions = c.pii.updated(k, v + 1))).nonEmpty)
    assert(Checks.curate(c, good.copy(contaminated = c.contaminated + (0L -> 999L))).nonEmpty)
    assert(Checks.curate(c, good.copy(exactRows = good.exactRows + 1)).nonEmpty)
    assert(Checks.curate(c, good.copy(semanticRows = 101)).nonEmpty)
  }

  test("ingest check passes on a real store and fails once a stored file is removed") {
    val dir = tmp()
    val spark = SparkSession.builder().master("local[2]").config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", "2").getOrCreate()
    try {
      val src = dir.resolve("src")
      val t = Corpus.writeSourceTree(src, 11L, 24)
      val built = Legs.ingest(spark, new Tracer(spark, enabled = false), src.toString, dir.resolve("w").toString, 11L)
      assert(Checks.ingest(t, Legs.storeFacts(spark, built, src.toString), Legs.Prefix).isEmpty)
      // corrupt the output: drop one data file of one collection
      val victim = Files.walk(Paths.get(built.store)).iterator().asScala
        .find(p => p.getFileName.toString.endsWith(".parquet")).get
      Files.delete(victim)
      Files.deleteIfExists(victim.resolveSibling(s".${victim.getFileName}.crc"))
      assert(Checks.ingest(t, Legs.storeFacts(spark, built, src.toString), Legs.Prefix).nonEmpty)
    } finally {
      spark.stop()
      FileUtils.deleteQuietly(dir.toFile)
    }
  }
}
