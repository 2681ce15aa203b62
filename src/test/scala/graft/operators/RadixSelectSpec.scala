package graft.operators

import org.scalacheck.{Gen, Prop, Test}

/** Two-pass radix selection equals `NumpyPercentile.compute` over the
  * `Arrays.sort`ed concatenation, bit for bit (every NaN compares as
  * NaN: `Arrays.sort` keeps NaN payloads, the key collapses them). */
class RadixSelectSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def bits(xs: Array[Double]): Seq[Long] =
    xs.toSeq.map(java.lang.Double.doubleToLongBits)

  private def numpy(vals: Array[Float], ps: Array[Double]): Array[Double] = {
    val s = vals.clone(); java.util.Arrays.sort(s)
    NumpyPercentile.compute(s, ps)
  }

  private val specials = Seq(0.0f, -0.0f, Float.PositiveInfinity,
    Float.NegativeInfinity, Float.NaN,
    java.lang.Float.intBitsToFloat(0xffc00001), // negative NaN payload
    Float.MinPositiveValue, -Float.MinPositiveValue,
    java.lang.Float.intBitsToFloat(0x007fffff), // largest subnormal
    java.lang.Float.intBitsToFloat(0x807fffff),
    java.lang.Float.MIN_NORMAL, Float.MaxValue, Float.MinValue, 1.0f, -1.0f)

  private val value: Gen[Float] = Gen.frequency(
    3 -> Gen.oneOf(specials),
    3 -> Gen.choose(-50, 50).map(_.toFloat), // heavy duplicates
    2 -> Gen.choose(Int.MinValue, Int.MaxValue)
      .map(java.lang.Float.intBitsToFloat), // any bit pattern
    2 -> Gen.choose(0, 0xffff) // one coarse bucket, many keys
      .map(i => java.lang.Float.intBitsToFloat(0x3f800000 + i)),
    1 -> Gen.choose(1, 0x7fffff) // subnormals
      .map(i => java.lang.Float.intBitsToFloat(i)))

  private val multiset: Gen[Array[Float]] = Gen.frequency(
    6 -> Gen.choose(1, 600).flatMap(n => Gen.listOfN(n, value))
      .map(_.toArray),
    1 -> value.map(Array(_)),
    1 -> Gen.zip(Gen.choose(1, 300), value).map { case (n, v) =>
      Array.fill(n)(v) }) // all equal

  private val percentiles: Gen[Array[Double]] =
    Gen.listOf(Gen.frequency(
      2 -> Gen.oneOf(0.0, 100.0, 5.0, 95.0, 50.0, 2.5),
      3 -> Gen.choose(0.0, 100.0)))
      .map(ps => (0.0 +: 100.0 +: ps).toArray)

  private def check(p: Prop): Unit = {
    val r = Test.check(Test.Parameters.default
      .withMinSuccessfulTests(500).withInitialSeed(20261017L), p)
    assert(r.passed, r.status.toString)
  }

  test("selection equals numpy over the sorted concatenation") {
    check(Prop.forAll(multiset, percentiles) { (vals, ps) =>
      bits(RadixSelect.compute(vals, ps)) == bits(numpy(vals, ps))
    })
  }

  test("chunked passes merge to the same selection") {
    // values split over chunks and overlapping groups, as tiles and
    // zones split them: each chunk summarized alone, merged per group
    check(Prop.forAll(multiset, percentiles, Gen.choose(1, 7)) {
      (vals, ps, nChunks) =>
        val chunks = vals.indices.groupBy(_ % nChunks).toSeq.sortBy(_._1)
          .map { case (c, ix) => c -> ix.map(vals(_)).toArray }.toMap
        // chunk 0 feeds both groups, the rest only group "a"
        def groupsOf(c: Int): Seq[String] = if (c == 0) Seq("a", "b") else Seq("a")
        val got = RadixSelect.groupPercentiles[Int, String](
          chunks.toSeq.map { case (c, v) => c -> RadixSelect.coarse(v, v.length) },
          groupsOf, ps, targets => targets.toSeq.map { case (c, t) =>
            c -> RadixSelect.fine(chunks(c), chunks(c).length, t)
          }).toMap
        val a = vals
        val b = chunks.getOrElse(0, Array.emptyFloatArray)
        bits(got("a")) == bits(numpy(a, ps)) &&
          (if (b.isEmpty) !got.contains("b")
           else bits(got("b")) == bits(numpy(b, ps)))
    })
  }

  test("an empty group selects nothing") {
    assert(RadixSelect.compute(Array.emptyFloatArray, Array(5.0)) == null)
  }

  test("a pass 2 that saw fewer values than pass 1 fails loudly") {
    val vals = Array(1f, 2f, 3f, 4f)
    val ps = Array(50.0)
    val c = RadixSelect.coarse(vals, vals.length)
    val partial = vals.take(2) // the source lost values between passes
    val f = RadixSelect.fine(partial, partial.length, RadixSelect.targets(c, ps))
    intercept[IllegalStateException](RadixSelect.select(c, f, ps))
  }

  test("keys follow Arrays.sort order and round-trip") {
    val sorted = (specials ++ Seq(0.5f, -0.5f, 3e-39f, -3e-39f)).toArray
    java.util.Arrays.sort(sorted)
    val ks = sorted.map(RadixSelect.key)
    assert(ks.toSeq == ks.sorted.toSeq)
    sorted.filterNot(_.isNaN).foreach(v => assert(
      java.lang.Float.floatToRawIntBits(RadixSelect.value(RadixSelect.key(v)))
        == java.lang.Float.floatToRawIntBits(v)))
    assert(RadixSelect.key(-0.0f) < RadixSelect.key(0.0f))
  }

  test("a target bucket holds at most 65,536 exact keys") {
    val ps = Array(0.0, 5.0, 50.0, 95.0, 100.0)
    val equal = Array.fill(1000000)(7.25f)
    val distinct = Array.tabulate(1000000)(i =>
      java.lang.Float.intBitsToFloat(0x3f000000 + i * 3))
    for (vals <- Seq(equal, distinct)) {
      val c = RadixSelect.coarse(vals, vals.length)
      val t = RadixSelect.targets(c, ps)
      val f = RadixSelect.fine(vals, vals.length, t)
      t.foreach { b =>
        assert(f.keys.count(RadixSelect.bucket(_) == b) <= 65536)
      }
      assert(f.keys.forall(k => t.contains(RadixSelect.bucket(k))))
      assert(bits(RadixSelect.select(c, f, ps)) == bits(numpy(vals, ps)))
    }
  }
}
