package graft.operators

/** Exact percentiles with numpy's linear-interpolation semantics over
  * float32 values — the reference concatenates per-FID float32 chunks
  * and calls `np.percentile` (`/root/reference/runner.py:823-904`).
  *
  * numpy 1.26 detail replicated here (verified against numpy 1.26.4):
  * `_lerp` computes `diff = b - a` in the array dtype (float32) but
  * the interpolation `a + diff*t` — and the `t >= 0.5` branch
  * `b - diff*(1-t)` — in float64, because the position array `t` is a
  * float64 ndarray which upcasts the elementwise ops. Position is
  * `(p/100) * (n-1)` in float64; result dtype is float64.
  */
object NumpyPercentile {
  def compute(sortedVals: Array[Float], ps: Array[Double]): Array[Double] = {
    val n = sortedVals.length
    ps.map { p =>
      if (n == 0) Double.NaN
      else {
        val (i, t) = position(p, n)
        interpolate(sortedVals(i.toInt),
          sortedVals(math.min(i + 1, n - 1L).toInt), t, n)
      }
    }
  }

  /** Lower rank ⌊pos⌋ and fraction of percentile `p` over `n` sorted
    * values; the upper rank is ⌊pos⌋+1, clamped to n-1. */
  def position(p: Double, n: Long): (Long, Double) = {
    val pos = (p / 100.0) * (n - 1)
    val i = math.floor(pos).toLong
    (i, pos - i)
  }

  /** numpy's `_lerp` between the values at the lower (`a`) and upper
    * (`b`) rank; a single value is returned as is. */
  def interpolate(a: Float, b: Float, t: Double, n: Long): Double =
    if (n == 1) a.toDouble
    else {
      val diff = (b - a).toDouble // float32 subtract, as numpy does
      if (t >= 0.5) b.toDouble - diff * (1.0 - t)
      else a.toDouble + diff * t
    }
}

/** Sparse histogram over order-preserving float32 keys (see
  * [[RadixSelect]]): ascending `keys`, each with its value count. */
final case class Hist(keys: Array[Int], counts: Array[Long]) {
  def isEmpty: Boolean = keys.isEmpty
  def total: Long = counts.sum
}

object Hist {
  val Empty: Hist = Hist(Array.emptyIntArray, Array.emptyLongArray)
}

/** Order-independent sum of [[Hist]]s. */
final class HistAcc extends Serializable {
  private val m = scala.collection.mutable.LongMap.empty[Long]
  def add(h: Hist): this.type = {
    var i = 0
    while (i < h.keys.length) {
      val k = h.keys(i).toLong
      m.update(k, m.getOrElse(k, 0L) + h.counts(i))
      i += 1
    }
    this
  }
  def result: Hist =
    if (m.isEmpty) Hist.Empty
    else {
      val ks = m.keysIterator.map(_.toInt).toArray
      java.util.Arrays.sort(ks)
      Hist(ks, ks.map(k => m(k.toLong)))
    }
}

/** Growable primitive float buffer — the raw-value carrier of the
  * zonal kernels (no boxing per pixel). */
final class FloatBuf(initial: Int = 64) {
  var data: Array[Float] = new Array[Float](initial)
  var size: Int = 0
  def add(v: Float): Unit = {
    if (size == data.length)
      data = java.util.Arrays.copyOf(data, data.length * 2)
    data(size) = v
    size += 1
  }
  def addAll(vs: Array[Float]): Unit = {
    if (size + vs.length > data.length)
      data = java.util.Arrays.copyOf(data,
        math.max(data.length * 2, size + vs.length))
    System.arraycopy(vs, 0, data, size, vs.length)
    size += vs.length
  }
  def clear(): Unit = size = 0
  def toArray: Array[Float] = java.util.Arrays.copyOf(data, size)
}

/** What a zonal kernel gathers about the valid pixel values of each
  * partial, besides the algebraic stats. */
sealed trait Values extends Serializable {
  /** (raw values, histogram) of one partial's gathered values; `buf` is
    * null for [[Values.Off]], which gathers nothing. */
  def summarize(buf: FloatBuf, fid: Long): (Array[Float], Hist)
}
object Values {
  private val Nothing = (Array.emptyFloatArray, Hist.Empty)
  /** Nothing: the percentile-free kernel. */
  case object Off extends Values {
    def summarize(buf: FloatBuf, fid: Long) = Nothing
  }
  /** The values themselves (`vals`): the GK and histogram sketches. */
  case object Raw extends Values {
    def summarize(buf: FloatBuf, fid: Long) = (buf.toArray, Hist.Empty)
  }
  /** Pass 1 of [[RadixSelect]]: counts per coarse bucket. */
  case object Coarse extends Values {
    def summarize(buf: FloatBuf, fid: Long) =
      (Array.emptyFloatArray, RadixSelect.coarse(buf.data, buf.size))
  }
  /** Pass 2 of [[RadixSelect]]: exact key counts of the values inside
    * each fid's target buckets (fids absent from the map emit none). */
  final case class Fine(targets: org.apache.spark.broadcast.Broadcast[
      Map[Long, Array[Int]]]) extends Values {
    def summarize(buf: FloatBuf, fid: Long) =
      (Array.emptyFloatArray, RadixSelect.fine(buf.data, buf.size,
        targets.value.getOrElse(fid, null)))
  }
}

/** Exact percentiles by two-pass radix selection — bit-identical to
  * [[NumpyPercentile.compute]] over the sorted concatenation of a
  * group's values, without ever holding those values in one place.
  *
  * Each float32 maps to a 32-bit key whose signed order is the order
  * `java.util.Arrays.sort(float[])` produces (−0.0 < 0.0, every NaN
  * last). Pass 1 counts values per coarse bucket (the key's top 16
  * bits); those counts locate the buckets holding ranks ⌊pos⌋ and
  * ⌊pos⌋+1 of every percentile. Pass 2 counts exact keys, but only for
  * values inside those target buckets — at most 65,536 distinct keys
  * per bucket — and the two selected values feed numpy's
  * interpolation. Both passes are mergeable sums, so per-tile,
  * per-chunk and per-partition summaries combine in any order: the
  * footprint is O(groups × buckets), not O(pixels).
  */
object RadixSelect {
  /** Order-preserving signed key of a float32 (all NaNs share one key,
    * above +Inf). */
  def key(v: Float): Int = {
    val b = java.lang.Float.floatToIntBits(v)
    if (b < 0) b ^ 0x7fffffff else b
  }

  /** Inverse of [[key]]. */
  def value(k: Int): Float =
    java.lang.Float.intBitsToFloat(if (k < 0) k ^ 0x7fffffff else k)

  /** Coarse bucket of a key: its top 16 bits, signed. */
  def bucket(k: Int): Int = k >> 16

  private val BucketCount = 1 << 16
  // per-thread dense counters for pass 1: a kernel summarizes one
  // (tile, zone) buffer at a time, so one scratch pair per thread
  private val scratch = ThreadLocal.withInitial[(Array[Int], Array[Int])](
    () => (new Array[Int](BucketCount), new Array[Int](BucketCount)))

  /** Pass 1 over the first `n` values of `vals`. */
  def coarse(vals: Array[Float], n: Int): Hist = {
    if (n == 0) return Hist.Empty
    val (counts, touched) = scratch.get()
    var t = 0
    var i = 0
    while (i < n) {
      val b = bucket(key(vals(i))) + (BucketCount >> 1)
      if (counts(b) == 0) { touched(t) = b; t += 1 }
      counts(b) += 1
      i += 1
    }
    java.util.Arrays.sort(touched, 0, t)
    val keys = new Array[Int](t)
    val cs = new Array[Long](t)
    i = 0
    while (i < t) {
      val b = touched(i)
      keys(i) = b - (BucketCount >> 1)
      cs(i) = counts(b)
      counts(b) = 0
      i += 1
    }
    Hist(keys, cs)
  }

  /** Pass 2 over the first `n` values of `vals`: exact key counts of
    * the values whose bucket is one of `targets`. */
  def fine(vals: Array[Float], n: Int, targets: Array[Int]): Hist = {
    if (n == 0 || targets == null || targets.isEmpty) return Hist.Empty
    var ks: Array[Int] = null
    var m = 0
    var i = 0
    while (i < n) {
      val k = key(vals(i))
      val b = bucket(k)
      var j = 0
      while (j < targets.length && targets(j) != b) j += 1
      if (j < targets.length) {
        if (ks == null) ks = new Array[Int](n - i)
        ks(m) = k; m += 1
      }
      i += 1
    }
    if (m == 0) return Hist.Empty
    java.util.Arrays.sort(ks, 0, m)
    val keys = scala.collection.mutable.ArrayBuilder.make[Int]
    val cs = scala.collection.mutable.ArrayBuilder.make[Long]
    var a = 0
    while (a < m) {
      var b = a + 1
      while (b < m && ks(b) == ks(a)) b += 1
      keys += ks(a); cs += (b - a).toLong
      a = b
    }
    Hist(keys.result(), cs.result())
  }

  /** The ranks each percentile reads: ⌊pos⌋ and ⌊pos⌋+1 (clamped). */
  private def ranks(n: Long, ps: Array[Double]): Array[Long] =
    ps.flatMap { p =>
      val (i, _) = NumpyPercentile.position(p, n)
      Array(i, math.min(i + 1, n - 1))
    }

  /** Entry of `h` holding 0-based rank `r`, with the rank's offset
    * inside that entry's cumulative range. */
  private def locate(h: Hist, r: Long): (Int, Long) = {
    var cum = 0L
    var i = 0
    while (cum + h.counts(i) <= r) { cum += h.counts(i); i += 1 }
    (i, r - cum)
  }

  /** Sorted coarse buckets a group's pass 2 must count exactly; empty
    * for a group without values. */
  def targets(coarse: Hist, ps: Array[Double]): Array[Int] = {
    val n = coarse.total
    if (n == 0) Array.emptyIntArray
    else ranks(n, ps).map(r => coarse.keys(locate(coarse, r)._1))
      .distinct.sorted
  }

  /** Percentiles of a group from its pass-1 (`coarse`) and pass-2
    * (`fine`) histograms; null when the group has no values. */
  def select(coarse: Hist, fine: Hist, ps: Array[Double]): Array[Double] = {
    val n = coarse.total
    if (n == 0) return null
    // rank r = the off-th value of its coarse bucket b = the off-th
    // value among b's exact keys
    def valueAt(r: Long): Float = {
      val (ci, off) = locate(coarse, r)
      val b = coarse.keys(ci)
      var fi = 0
      while (fi < fine.keys.length && bucket(fine.keys(fi)) < b) fi += 1
      var left = off
      while (fi < fine.keys.length && bucket(fine.keys(fi)) == b &&
          left >= fine.counts(fi)) {
        left -= fine.counts(fi); fi += 1
      }
      // both passes must sweep the same values: a source that changed
      // between them fails here instead of selecting a wrong value
      if (fi == fine.keys.length || bucket(fine.keys(fi)) != b)
        throw new IllegalStateException(
          s"pass 2 counted fewer values in bucket $b than pass 1")
      value(fine.keys(fi))
    }
    ps.map { p =>
      val (i, t) = NumpyPercentile.position(p, n)
      NumpyPercentile.interpolate(valueAt(i), valueAt(math.min(i + 1, n - 1)),
        t, n)
    }
  }

  /** Exact percentiles per group from per-key pass summaries — the
    * driver step between the two distributed passes. `coarse` holds
    * pass-1 histograms per key (a key may repeat), `groupsOf` the
    * groups a key's values belong to, and `pass2` runs the fine pass
    * for per-key target buckets (the union of its groups' targets:
    * other buckets never reach a group's selection). Groups without
    * values are absent from the result. */
  def groupPercentiles[K, G](coarse: Seq[(K, Hist)], groupsOf: K => Seq[G],
      ps: Array[Double], pass2: Map[K, Array[Int]] => Seq[(K, Hist)])
      : Seq[(G, Array[Double])] = {
    def byGroup(hs: Seq[(K, Hist)]): Map[G, Hist] = {
      val acc = scala.collection.mutable.LinkedHashMap.empty[G, HistAcc]
      hs.foreach { case (k, h) =>
        groupsOf(k).foreach(g => acc.getOrElseUpdate(g, new HistAcc).add(h))
      }
      acc.view.mapValues(_.result).toMap
    }
    val gCoarse = byGroup(coarse)
    val gTargets = gCoarse.view.mapValues(targets(_, ps)).toMap
    val keyTargets = coarse.map(_._1).distinct.map { k =>
      k -> groupsOf(k).flatMap(gTargets.get).flatten.distinct.sorted.toArray
    }.filter(_._2.nonEmpty).toMap
    val gFine = if (keyTargets.isEmpty) Map.empty[G, Hist]
      else byGroup(pass2(keyTargets))
    gCoarse.toSeq.flatMap { case (g, c) =>
      Option(select(c, gFine.getOrElse(g, Hist.Empty), ps)).map(g -> _)
    }
  }

  /** Both passes over one in-memory multiset (spec oracle for the
    * distributed passes; the same functions, one process). */
  def compute(vals: Array[Float], ps: Array[Double]): Array[Double] = {
    val c = coarse(vals, vals.length)
    select(c, fine(vals, vals.length, targets(c, ps)), ps)
  }
}
