package graft

import graft.ops.{Mm3, MmDHash, MmPHash}

/** Round 15: the pHash/dHash perceptual-hash siblings (VERDICT r14
  * "what's missing" #4) — the invariance claims the L360/L361 scaladocs
  * make, pinned against the REAL BMP round-trip, plus the fixed-point
  * cosine-table stability premise. */
class Round15bSpec extends SparkTestBase {

  private def ham(a: ops.Mm3HashRow, b: ops.Mm3HashRow): Int =
    Integer.bitCount(a.b0 ^ b.b0) + Integer.bitCount(a.b1 ^ b.b1) +
      Integer.bitCount(a.b2 ^ b.b2) + Integer.bitCount(a.b3 ^ b.b3)

  /** doc ids realizing (family f, orig) and (family f, checkered):
    * doc_id ≡ f (mod 50) with doc_id % 3 == 0 ⟺ checkered — CRT gives
    * one of each in every 150-block. */
  private def origId(f: Int): Long =
    (f until f + 150 by 50).find(_ % 3 != 0).get.toLong
  private def pertId(f: Int): Long =
    (f until f + 150 by 50).find(_ % 3 == 0).get.toLong

  test("pHash sees through the ±8 full-field checkerboard edit that " +
      "changes EVERY pixel (all 50 families, real BMP round trip)") {
    for (f <- 0 until 50) {
      val (o, p) = (origId(f), pertId(f))
      // substantial-edit premise: every one of the 1024 pixels differs
      val ro = MmDHash.readRaster(o, MmPHash.synthesize(o), 32, 32)
      val rp = MmDHash.readRaster(p, MmPHash.synthesize(p), 32, 32)
      val nDiff = (for (y <- 0 until 32; x <- 0 until 32
        if ro.getSample(x, y, 0) != rp.getSample(x, y, 0)) yield 1).size
      assert(nDiff == 1024, s"family $f: expected every pixel edited")
      // ...yet the low-frequency hash is identical
      val ho = MmPHash.decodeHash(o, MmPHash.synthesize(o))
      val hp = MmPHash.decodeHash(p, MmPHash.synthesize(p))
      assert(ham(ho, hp) == 0, s"family $f: pHash moved under checkerboard")
      // DC slot (bit 0 of band 0) is dropped — never set
      assert((ho.b0 & 1) == 0)
    }
  }

  test("dHash is EXACTLY invariant to any zero-mean-per-block edit " +
      "(the checkerboard is one) and separates families") {
    val hashes = (0 until 50).map { f =>
      val (o, p) = (origId(f), pertId(f))
      val ho = MmDHash.decodeHash(o, MmDHash.synthesize(o))
      val hp = MmDHash.decodeHash(p, MmDHash.synthesize(p))
      assert(ham(ho, hp) == 0, s"family $f: dHash moved under checkerboard")
      ho
    }
    val crossMin = (for (a <- 0 until 50; b <- a + 1 until 50)
      yield ham(hashes(a), hashes(b))).min
    assert(crossMin >= 1, "two distinct families dHash-collided")
  }

  test("pHash separates families: no cross-family pair within the " +
      "Hamming<=10 dup threshold") {
    val hashes = (0 until 50).map(f =>
      MmPHash.decodeHash(origId(f), MmPHash.synthesize(origId(f))))
    val crossMin = (for (a <- 0 until 50; b <- a + 1 until 50)
      yield ham(hashes(a), hashes(b))).min
    assert(crossMin > 10, s"cross-family pHash Hamming $crossMin <= dup cut")
  }

  test("fixed-point cosine table: every entry >=0.01 from a rounding " +
      "boundary (libm-stable premise) and the DC row is flat 2^14") {
    val minDist = (for (u <- 0 until 8; x <- 0 until 32) yield {
      val exact = math.cos(math.Pi * (2 * x + 1) * u / 64) * 16384
      math.abs(exact - math.floor(exact) - 0.5)
    }).min
    assert(minDist > 0.01, f"cos table entry $minDist%.6f from boundary")
    assert((0 until 32).forall(x => MmPHash.cosT(0)(x) == 16384))
    // the oracle inlines exactly these integers
    assert(Mm3.entries("mm_image_phash_dedup").oracle.contains(MmPHash.cosTableValues))
  }

  test("hash mappers reject a truncated or wrong-shaped payload " +
      "instead of hashing garbage") {
    val good = MmPHash.synthesize(7L)
    // ImageIO surfaces truncation as EOFException — any throw is a
    // loud rejection; what matters is that no hash comes back
    assertThrows[Exception] {
      MmPHash.decodeHash(7L, good.take(good.length / 2))
    }
    // a dHash-shaped (36x32) payload is not a pHash (32x32) payload
    intercept[IllegalArgumentException] {
      MmPHash.decodeHash(7L, MmDHash.synthesize(7L))
    }
  }
}
