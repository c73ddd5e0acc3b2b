package graft.bench

import graft.sources.HwpPayloads

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.util.Random

/** Seeded input generators. Every byte written depends only on the seed
  * and the size arguments, so one seed always gives the same inputs and
  * the program receives nothing but the generated files and rows.
  *
  * Texts contain no digits and no '@' except in planted PII strings, and
  * unplanted documents share no long word runs, so every check can be
  * derived from what the generator planted.
  */
object Corpus {

  // fixed vocabularies (seed-independent): common English function words,
  // pronounceable pseudo-words, and Hangul words built from syllables
  private val Function: Array[String] =
    Array("the", "be", "to", "of", "and", "that", "have", "with", "a", "in", "is", "for", "on", "as")

  private val Latin: Array[String] = {
    val r = new Random(7L)
    val cons = "bcdfghjklmnprstvwz"; val vow = "aeiou"
    Array.fill(3000) {
      val syl = 2 + r.nextInt(3)
      (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vow(r.nextInt(vow.length))}").mkString
    }.distinct
  }

  private val Hangul: Array[String] = {
    val r = new Random(11L)
    Array.fill(1500)(new String(Array.fill(2 + r.nextInt(2))((0xac00 + r.nextInt(11172)).toChar))).distinct
  }

  /** One sentence: ~`n` words, a function word about every fourth word,
    * Hangul words at `hangulShare`.
    */
  private def sentence(r: Random, n: Int, hangulShare: Double): String = {
    val ws = (0 until n).map { i =>
      if (i % 4 == 1) Function(r.nextInt(Function.length))
      else if (r.nextDouble() < hangulShare) Hangul(r.nextInt(Hangul.length))
      else Latin(r.nextInt(Latin.length))
    }
    ws.head.capitalize + ws.tail.mkString(" ", " ", ".")
  }

  /** Paragraphs totalling about `chars` characters. */
  def paragraphs(r: Random, chars: Int, hangulShare: Double): Seq[String] = {
    val out = Seq.newBuilder[String]
    var total = 0
    while (total < chars) {
      val p = (0 until 3 + r.nextInt(4)).map(_ => sentence(r, 8 + r.nextInt(10), hangulShare)).mkString(" ")
      out += p; total += p.length + 1
    }
    out.result()
  }

  // ---------------------------------------------------------------- sources

  /** What the ingest spine must produce from a generated source tree.
    * `validSources` are the file names (relative to the root) whose text
    * reaches the store: one file of every exact-duplicate group (the one
    * that sorts first by path, the ingest spine's keep-first order) and
    * no empty or corrupt file.
    */
  final case class SourceTree(
      files: Int,
      bytes: Long,
      validSources: Set[String],
      droppedFiles: Set[String],
      duplicateFiles: Set[String],
      folders: Set[String]
  )

  val Folders: Seq[String] = (0 until 8).map(i => s"dept$i")

  /** Evenly spaced values lo..hi, one per item, in seeded order: a fixed
    * size distribution whose placement depends on the seed.
    */
  private def spread(r: Random, n: Int, lo: Int, hi: Int): IndexedSeq[Int] =
    r.shuffle((0 until n).map(i => lo + ((hi - lo) * (i + 0.5) / n).toInt))

  /** Write `n` (at least 16) source files across the eight folders with a
    * fixed composition: 10% exact duplicates of another file, four empty
    * or corrupt files (empty page, script-only page, corrupt HWPX,
    * corrupt HWP), and of the rest 75% HTML/JSP pages of 2–8 KB, 15% HWPX
    * and 10% binary HWP, 30% of them Hangul-heavy. The seed sets the
    * words, the order, the folders and which files are copied.
    */
  def writeSourceTree(root: Path, seed: Long, n: Int): SourceTree = {
    require(n >= 16, "source trees need at least 16 files")
    val r = new Random(seed)
    val dups = n / 10
    val valid = n - dups - 4
    val hwpx = valid * 15 / 100
    val hwp = valid / 10
    val html = valid - hwpx - hwp
    val htmlSizes = spread(r, html, 2000, 8000)
    val hwpxSizes = spread(r, hwpx, 1500, 4500)
    val kinds = r.shuffle(Seq.fill(html)("html") ++ Seq.fill(hwpx)("hwpx") ++ Seq.fill(hwp)("hwp") ++
      Seq("empty", "script", "bad-hwpx", "bad-hwp") ++ Seq.fill(dups)("dup"))
    val folders = r.shuffle(kinds.indices.map(i => Folders(i % Folders.size)))
    val hangul = r.shuffle(Seq.fill(valid * 3 / 10)(0.6) ++ Seq.fill(valid - valid * 3 / 10)(0.05)).iterator
    val (hi, xi) = (htmlSizes.iterator, hwpxSizes.iterator)
    val written = scala.collection.mutable.LinkedHashMap.empty[String, Array[Byte]]
    val dropped = Set.newBuilder[String]
    val pending = scala.collection.mutable.Buffer.empty[String]
    kinds.zip(folders).zipWithIndex.foreach { case ((kind, folder), i) =>
      def put(name: String, ext: String, bytes: Array[Byte]) = {
        val rel = f"$folder/$name%s_$i%05d$ext"; written(rel) = bytes; rel
      }
      kind match {
        case "html" => put("doc", if (r.nextInt(5) == 0) ".jsp" else ".html", htmlPage(r, hi.next(), hangul.next()))
        case "hwpx" => put("doc", ".hwpx", this.hwpx(r, xi.next(), hangul.next()))
        case "hwp" => put("doc", ".hwp", this.hwp(r, hangul.next()))
        case "empty" => dropped += put("bad", ".html", Array.emptyByteArray)
        case "script" => dropped += put("bad", ".html", "<html><script>var x = 'only code';</script></html>".getBytes(UTF_8))
        case "bad-hwpx" => dropped += put("bad", ".hwpx", junk(r, 700))
        case "bad-hwp" => dropped += put("bad", ".hwp", junk(r, 1200))
        case "dup" => pending += f"$folder/copy_$i%05d"
      }
    }
    val originals = written.keys.toIndexedSeq.filterNot(dropped.result().contains)
    val dupOf = pending.map { stem =>
      val src = originals(r.nextInt(originals.size))
      val rel = stem + src.substring(src.lastIndexOf('.'))
      written(rel) = written(src)
      rel -> src
    }.toMap
    written.foreach { case (rel, bytes) =>
      val p = root.resolve(rel)
      Files.createDirectories(p.getParent)
      Files.write(p, bytes)
    }
    // keep-first runs over the absolute `file:` path, so within a
    // duplicate group the path that sorts first keeps its chunks
    val groups = originals.map(o => o -> (o +: dupOf.collect { case (d, s) if s == o => d }.toSeq))
    SourceTree(
      files = n,
      bytes = written.values.map(_.length.toLong).sum,
      validSources = groups.map(_._2.min).toSet,
      droppedFiles = dropped.result(),
      duplicateFiles = groups.flatMap(_._2.sorted.tail).toSet,
      folders = groups.map(_._2.min.takeWhile(_ != '/')).toSet
    )
  }

  private def junk(r: Random, n: Int): Array[Byte] = {
    val b = new Array[Byte](n); r.nextBytes(b); b
  }

  private def htmlPage(r: Random, chars: Int, share: Double): Array[Byte] = {
    val ps = paragraphs(r, chars, share)
    val title = sentence(r, 5, share)
    val body = ps.zipWithIndex.map { case (p, j) =>
      if (j % 4 == 0) s"<h2>${sentence(r, 4, share)}</h2>\n<p>$p</p>"
      else if (j % 4 == 3) s"<ul><li>$p</li></ul>"
      else s"<div><p>$p</p></div>"
    }.mkString("\n")
    s"""<!DOCTYPE html><html><head><title>$title</title>
       |<style>body { margin: 0 }</style><script>var page = "x";</script></head>
       |<body><nav><a href="/">home</a> | <a href="/list">list</a></nav>
       |$body
       |<footer>footer &amp; links</footer></body></html>
       |""".stripMargin.getBytes(UTF_8)
  }

  private def hwpx(r: Random, chars: Int, share: Double): Array[Byte] = {
    val ps = paragraphs(r, chars, share)
    val sections = ps.grouped(3).map(g =>
      g.map(p => s"<hp:p><hp:run><hp:t>$p</hp:t></hp:run></hp:p>").mkString("<hs:sec>", "", "</hs:sec>")
    ).toSeq
    val meta = s"<opf:metadata><opf:title>${sentence(r, 4, share)}</opf:title><opf:creator>bench</opf:creator></opf:metadata>"
    zeroZipTimes(HwpPayloads.buildHwpxZip(sections, meta))
  }

  /** Binary HWP (CFB) documents; the container holds at most 8 KB of
    * mini-stream, so the compressed text is kept short.
    */
  private def hwp(r: Random, share: Double): Array[Byte] = {
    val ps = paragraphs(r, 1200 + r.nextInt(1200), share)
    HwpPayloads.buildHwpCfb(Seq(ps.mkString("\n")), compressed = true, title = sentence(r, 3, share))
  }

  /** Zero the DOS time and date of every entry: the zip writer stamps
    * the wall clock, which would make the bytes differ between runs.
    */
  private[bench] def zeroZipTimes(zip: Array[Byte]): Array[Byte] = {
    val b = ByteBuffer.wrap(zip).order(ByteOrder.LITTLE_ENDIAN)
    val eocd = zip.length - 22
    require(b.getInt(eocd) == 0x06054b50, "zip has a comment or is malformed")
    val entries = b.getShort(eocd + 10) & 0xffff
    var p = b.getInt(eocd + 16)
    (0 until entries).foreach { _ =>
      require(b.getInt(p) == 0x02014b50, "bad central directory")
      b.putInt(p + 12, 0) // central: time + date
      b.putInt(b.getInt(p + 42) + 10, 0) // local header: time + date
      p += 46 + (b.getShort(p + 28) & 0xffff) + (b.getShort(p + 30) & 0xffff) + (b.getShort(p + 32) & 0xffff)
    }
    zip
  }

  // ---------------------------------------------------------------- queries

  /** Query strings drawn from the source vocabulary, about a third of
    * them Hangul-heavy so the language-aware path routes both ways.
    */
  def queries(seed: Long, n: Int): IndexedSeq[String] = {
    val r = new Random(seed ^ 0x5eedL)
    IndexedSeq.tabulate(n)(i => sentence(r, 4 + r.nextInt(6), if (i % 3 == 0) 0.7 else 0.05))
  }

  // ---------------------------------------------------------------- curate

  /** A curation corpus plus everything planted in it. Copies always get
    * larger ids than their originals, so keep-first (smallest id) keeps
    * the original; PII and contamination are planted in originals only.
    */
  final case class CurateCorpus(
      docs: IndexedSeq[(Long, String)],
      bench: IndexedSeq[(Long, String)],
      exactCopies: Int,
      nearDupPairs: Set[(Long, Long)],
      pii: Map[String, Int],
      contaminated: Set[(Long, Long)]
  )

  /** `n` base documents with a fixed composition: 10% repeated-line
    * junk for the quality rules to drop, the rest prose of 1.5–4 KB (30%
    * Hangul-heavy). Of the prose, `nearDupRate` gets a token-edited copy
    * (three words replaced: word-3-shingle Jaccard above 0.9) and 5% an
    * exact copy; prose documents numbering 8% of the base carry a held-out
    * benchmark passage, and 16% of base documents one PII string, the four PII kinds in equal numbers. The
    * seed sets the words and which documents are picked.
    */
  val BenchIdBase = 1000000L

  def curateCorpus(seed: Long, n: Int, nearDupRate: Double): CurateCorpus = {
    val r = new Random(seed ^ 0xc0ffeeL)
    // benchmark passages get ids outside the corpus range: the containment
    // join treats equal ids as the same document and skips the pair
    val bench = (0 until math.max(4, n / 25)).map(j => (BenchIdBase + j) -> paragraphs(r, 500, 0.0).head)
    val junk = r.shuffle((0 until n).toIndexedSeq).take(n / 10).toSet
    val prose = (0 until n).filterNot(junk)
    val sizes = spread(r, prose.size, 1500, 4000).iterator
    val hangul = r.shuffle(Seq.fill(prose.size * 3 / 10)(0.6) ++ Seq.fill(prose.size - prose.size * 3 / 10)(0.05)).iterator
    // junk has so few distinct shingles that two junk documents carrying the
    // same passage would be true near-duplicates, so only prose is contaminated
    val contaminated = r.shuffle(prose).take(n * 8 / 100)
      .map(i => i.toLong -> bench(r.nextInt(bench.size))._1).toMap
    val piiKinds = Seq("EMAIL", "CARD", "PHONE", "IP")
    val piiDocs = r.shuffle((0 until n).toIndexedSeq).take(n * 16 / 100 / 4 * 4)
      .zipWithIndex.map { case (d, j) => d -> piiKinds(j % 4) }.toMap
    val base = (0 until n).map { i =>
      val share = if (junk(i)) 0.0 else hangul.next()
      var ps = if (junk(i)) junkLines(r) else paragraphs(r, sizes.next(), share)
      contaminated.get(i.toLong).foreach(b => ps = ps :+ bench((b - BenchIdBase).toInt)._2)
      piiDocs.get(i).foreach { kind =>
        val at = r.nextInt(ps.size)
        ps = ps.updated(at, ps(at) + " " + piiString(r, kind) + " " + sentence(r, 6, share))
      }
      i.toLong -> ps.mkString("\n")
    }
    // repeated-line junk has a tiny shingle set, so only prose gets copies
    val picked = r.shuffle(prose)
    val nNear = math.round(prose.size * nearDupRate).toInt
    val nExact = prose.size / 20
    val near = picked.take(nNear).sorted
    val exact = picked.slice(nNear, nNear + nExact).sorted
    val copies = (near.map(i => editTokens(r, base(i)._2, 3)) ++ exact.map(i => base(i)._2))
      .zipWithIndex.map { case (t, j) => (n + j).toLong -> t }
    CurateCorpus(base ++ copies, bench, nExact, near.zipWithIndex.map { case (i, j) => i.toLong -> (n + j).toLong }.toSet,
      piiDocs.values.groupBy(identity).map { case (k, v) => k -> v.size }, contaminated.toSet)
  }

  private def junkLines(r: Random): Seq[String] = {
    val line = s"- ${Latin(r.nextInt(Latin.length))} | ${Latin(r.nextInt(Latin.length))} ..."
    Seq.fill(12 + r.nextInt(10))(line)
  }

  /** Replace `k` distinct word positions (never the first or last word). */
  private def editTokens(r: Random, text: String, k: Int): String = {
    val toks = text.split(" ", -1)
    val picks = r.shuffle((1 until toks.length - 1).toIndexedSeq).take(k)
    picks.foreach(p => toks(p) = Latin(r.nextInt(Latin.length)))
    toks.mkString(" ")
  }

  private def digits(r: Random, n: Int) = (0 until n).map(_ => ('0' + r.nextInt(10)).toChar).mkString

  private def piiString(r: Random, kind: String): String = kind match {
    case "EMAIL" => s"${Latin(r.nextInt(Latin.length))}.${Latin(r.nextInt(Latin.length))}@mail.example.org"
    case "PHONE" => s"010-${digits(r, 4)}-${digits(r, 4)}"
    case "CARD" => s"4${digits(r, 3)} ${digits(r, 4)} ${digits(r, 4)} ${digits(r, 4)}"
    case _ => s"10.${r.nextInt(250) + 1}.${r.nextInt(250) + 1}.${r.nextInt(250) + 1}"
  }
}
