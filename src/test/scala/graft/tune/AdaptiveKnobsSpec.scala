package graft.tune

import org.scalatest.funsuite.AnyFunSuite

/** The shared sized-by-data contract, pinned once for the whole knob
  * family: monotone non-decreasing in n, clamped to the documented
  * bounds, and bit-equal to the per-operator entry points the graded
  * rows ride on (Dedup.adaptiveSignBits / adaptiveSimHashBlocks,
  * ProductQuant.adaptiveShortlist).
  */
class AdaptiveKnobsSpec extends AnyFunSuite {

  // decade sweep + the measured anchors from the probe records
  private val sweep: Seq[Long] =
    (0 to 12).flatMap(e => Seq(1L, 2L, 5L).map(_ * math.pow(10, e).toLong)).distinct.sorted

  private def contract(name: String, knob: AdaptiveKnobs.Sized): Unit = {
    val vals = sweep.map(knob)
    vals.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, s"$name not monotone: $a > $b")
      case _         =>
    }
    vals.foreach(v => assert(v >= knob.lo && v <= knob.hi, s"$name out of [$knob.lo,$knob.hi]: $v"))
    // a negative count (caller bug) clamps to the floor, never a
    // negative width
    assert(knob(-1L) == knob(0L))
  }

  test("every knob satisfies the shared contract (monotone, clamped)") {
    contract("shortlist", AdaptiveKnobs.shortlist(10))
    contract("shortlist(k=40)", AdaptiveKnobs.shortlist(40))
    contract("simHashBlocks", AdaptiveKnobs.simHashBlocks(3))
    contract("simHashBlocks(d=2)", AdaptiveKnobs.simHashBlocks(2))
    contract("signBits", AdaptiveKnobs.signBits())
    contract("signBits(target=1024)", AdaptiveKnobs.signBits(1024L))
    contract("trainShards", AdaptiveKnobs.trainShards())
    contract("trainShards(target=100)", AdaptiveKnobs.trainShards(100L))
  }

  private def contractLong(name: String, knob: AdaptiveKnobs.SizedLong): Unit = {
    val vals = sweep.map(knob)
    vals.sliding(2).foreach {
      case Seq(a, b) => assert(a <= b, s"$name not monotone: $a > $b")
      case _         =>
    }
    vals.foreach(v => assert(v >= knob.lo && v <= knob.hi, s"$name out of [$knob.lo,$knob.hi]: $v"))
    assert(knob(-1L) == knob(0L))
  }

  test("hotMin: shared contract + anchors (floor 1000, head ≤ targetHeadTypes)") {
    contractLong("hotMin", AdaptiveKnobs.hotMin())
    contractLong("hotMin(target=1000)", AdaptiveKnobs.hotMin(1000L))
    val k = AdaptiveKnobs.hotMin(1L << 20)
    assert(k(0L) == 1000L && k(1L << 20) == 1000L) // small corpora keep the historical 1000
    assert(k(1L << 40) == (1L << 20))              // a trillion tokens → threshold 2^20
    assert(k((1L << 40) + 1) == (1L << 20) + 1)    // ceil
    // the property the knob exists for: keys with count ≥ hotMin number
    // at most n / hotMin ≤ targetHeadTypes once past the floor regime
    Seq(1L << 30, 1L << 40, 1L << 50, Long.MaxValue).foreach { n =>
      assert(n / k(n) <= (1L << 20), s"head bound violated at n=$n")
    }
  }

  test("trainShards anchors: ceil(n/target), floor 1, 2^24 cap") {
    val k = AdaptiveKnobs.trainShards(1L << 20)
    assert(k(0L) == 1 && k(1L) == 1)
    assert(k(1L << 20) == 1 && k((1L << 20) + 1) == 2)
    assert(k(100L * (1L << 20)) == 100)   // 100 M rows → 100 shards
    assert(k(Long.MaxValue) == (1 << 24)) // listing-budget cap, no overflow
  }

  test("legacy entry points delegate bit-for-bit (graded rows unchanged)") {
    sweep.foreach { n =>
      assert(graft.search.ProductQuant.adaptiveShortlist(n, 10) == AdaptiveKnobs.shortlist(10)(n))
      assert(graft.dedup.Dedup.adaptiveSimHashBlocks(n) == AdaptiveKnobs.simHashBlocks(3)(n))
      assert(graft.dedup.Dedup.adaptiveSignBits(n) == AdaptiveKnobs.signBits()(n))
    }
  }

  test("measured anchors from the probe records hold") {
    // PqProbe (BASELINE.md; source at commit a311a59): 200k → 100
    // (10/10), 2M → 1000 (fixed 100 collapsed)
    assert(AdaptiveKnobs.shortlist(10)(200000L) == 100)
    assert(AdaptiveKnobs.shortlist(10)(2000000L) == 1000)
    // SimHash: 5k docs → legacy 4 blocks; 5M → 5 (the sf100 fix)
    assert(AdaptiveKnobs.simHashBlocks(3)(5000L) == 4)
    assert(AdaptiveKnobs.simHashBlocks(3)(5000000L) == 5)
    // sign-LSH: flat-population widths at the probe scales
    assert(AdaptiveKnobs.signBits()(20000L) == 4)   // tiny corpora keep the floor
    assert(AdaptiveKnobs.signBits()(2000000L) == 9) // 489 buckets → ceil(log2) = 9 bits
  }
}
