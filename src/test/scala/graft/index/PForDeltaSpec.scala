package graft.index

import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

class PForDeltaSpec extends AnyFunSuite {

  private def check(p: Prop, n: Int = 200): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(n), p)
    assert(res.passed, res.status.toString)
  }

  test("encode∘decode = id for arbitrary non-negative longs") {
    val gen = Gen.containerOf[Array, Long](Gen.chooseNum(0L, Long.MaxValue))
    check(Prop.forAll(gen) { xs =>
      PForDelta.decode(PForDelta.encode(xs), xs.length).sameElements(xs)
    })
  }

  test("encode∘decode = id across frame-boundary lengths") {
    // exact frame multiples, one-off, and tail frames of every small size
    for (n <- Seq(0, 1, 2, 127, 128, 129, 255, 256, 257, 300, 384)) {
      val xs = Array.tabulate(n)(i => (i.toLong * 2654435761L) & 0xffffffffL)
      assert(PForDelta.decode(PForDelta.encode(xs), n).sameElements(xs), s"n=$n")
    }
  }

  test("patched exceptions: clustered values with rare huge outliers") {
    // this is the distribution PFor exists for — most values fit a few
    // bits, a handful need many; the outliers must come back exact and
    // must not blow up the packed width
    val gen = for {
      n <- Gen.chooseNum(1, 500)
      base <- Gen.listOfN(n, Gen.chooseNum(0L, 63L)) // 6-bit cluster
      outlierIdx <- Gen.listOf(Gen.chooseNum(0, n - 1))
      outlierVal <- Gen.chooseNum(1L << 30, Long.MaxValue)
    } yield {
      val xs = base.toArray
      outlierIdx.foreach(i => xs(i) = outlierVal)
      xs
    }
    check(Prop.forAll(gen) { xs =>
      PForDelta.decode(PForDelta.encode(xs), xs.length).sameElements(xs)
    })
  }

  test("all-zero frames cost 2 bytes each") {
    val xs = new Array[Long](256)
    val enc = PForDelta.encode(xs)
    assert(enc.length == 4, s"got ${enc.length} bytes for 256 zeros")
    assert(PForDelta.decode(enc, 256).forall(_ == 0L))
  }

  test("gap encode∘decode = id for strictly increasing docId lists") {
    val gen = for {
      base <- Gen.chooseNum(0L, 1L << 40)
      gaps <- Gen.nonEmptyContainerOf[List, Long](Gen.chooseNum(1L, 1 << 20))
    } yield (base, gaps.scanLeft(base)(_ + _).tail.toArray)
    check(Prop.forAll(gen) { case (base, ids0) =>
      val ids = base +: ids0 // first element == base → first gap 0
      PForDelta.decodeGaps(PForDelta.encodeGaps(ids, base), ids.length, base)
        .sameElements(ids)
    })
  }

  test("beats VarByte on dense posting gaps (sub-byte packing)") {
    // dense corpus: gaps 1..7 fit 3 bits; VByte floors at 8 bits/value
    val rng = new graft.util.SplitMix64(42)
    val ids = Array.iterate(1000L, 4096)(d => d + 1 + rng.nextInt(6))
    val pfor = PForDelta.encodeGaps(ids, ids(0))
    val vb = VarByte.encodeGaps(ids, ids(0))
    assert(pfor.length < vb.length / 2,
      s"pfor ${pfor.length}B should halve vbyte ${vb.length}B on 3-bit gaps")
  }

  test("graceful on skewed gaps: never worse than ~vbyte + frame headers") {
    val gen = Gen.nonEmptyContainerOf[Array, Long](
      Gen.oneOf(Gen.chooseNum(0L, 255L), Gen.chooseNum(0L, Long.MaxValue)))
    check(Prop.forAll(gen) { xs =>
      val pfor = PForDelta.encode(xs).length
      val vb = VarByte.encode(xs).length
      val frames = (xs.length + 127) / 128
      pfor <= vb + 2 * frames + xs.length / 2 + 8
    })
  }

  test("decodeInto a dirty, larger buffer ≡ decode, at every width, with patches") {
    // frames forced to each width: most values take exactly `w` bits, a
    // few outliers (below width 63) take more and become patches
    val rng = new graft.util.SplitMix64(7)
    val widths = scala.collection.mutable.Set.empty[Int]
    for (w <- 0 to 63; rep <- 0 until 4) {
      val n = 1 + rng.nextInt(300)
      val low = if (w == 0) 0L else 1L << (w - 1)
      val xs = Array.fill(n)(if (w == 0) 0L else low | (rng.nextLong() & (low - 1)))
      if (w < 63) (0 until 1 + rng.nextInt(3)).foreach { _ =>
        xs(rng.nextInt(n)) = (1L << (w + 1 + rng.nextInt(63 - w))) - 1
      }
      val enc = PForDelta.encode(xs)
      widths += enc(0) & 0xff
      val dirty = Array.fill(n + 1 + rng.nextInt(200))(rng.nextLong())
      val tail = dirty.drop(n)
      PForDelta.decodeInto(enc, n, dirty)
      assert(dirty.take(n).sameElements(PForDelta.decode(enc, n)), s"w=$w n=$n")
      assert(dirty.take(n).sameElements(xs), s"w=$w n=$n")
      assert(dirty.drop(n).sameElements(tail), s"w=$w: wrote past n")
      // the gap form over the same buffer
      val ids = xs.map(_ & 0xffffL).scanLeft(1000L)(_ + 1 + _).tail
      val gaps = PForDelta.encodeGaps(ids, 1000L)
      val again = Array.fill(n + 7)(rng.nextLong())
      PForDelta.decodeGapsInto(gaps, n, 1000L, again)
      assert(again.take(n).sameElements(PForDelta.decodeGaps(gaps, n, 1000L)), s"w=$w")
    }
    assert(widths == (0 to 63).toSet, s"widths not covered: ${(0 to 63).toSet -- widths}")
  }

  test("negative values rejected") {
    intercept[IllegalArgumentException](PForDelta.encode(Array(-1L)))
    intercept[IllegalArgumentException](PForDelta.encodeGaps(Array(5L, 5L), 0L))
  }
}
