package graft.perfbench

import graft.geom.Zone
import org.locationtech.jts.geom.{Geometry, GeometryCollection, LineString, Polygon}

import scala.collection.mutable.ArrayBuffer

/** Independent single-threaded zonal statistics for a sample of
  * groups: its own even-odd scanline over the (half-pixel simplified)
  * zone rings, pixel values recomputed from [[Inputs.pixel]] rather
  * than decoded, and its own numpy-style percentile. It shares nothing
  * with the engine's kernel but the zone simplification, which is part
  * of the semantics being reproduced.
  *
  * Pixel ownership is the pixel-centre rule: all zones containing the
  * centre (pair join), or only the last zone in fid order that does
  * (last-wins). The seeded inputs keep every vertex off the pixel
  * lattice, so no centre lies on a boundary and no tie rule matters. */
object Oracle {

  final class Stat {
    var count = 0L; var nodata = 0L; var sum = 0.0; var sumsq = 0.0
    var min = Double.PositiveInfinity; var max = Double.NegativeInfinity
    val vals = new ArrayBuffer[Float]()
    def valid: Long = count - nodata
    def merge(o: Stat): Unit = {
      count += o.count; nodata += o.nodata; sum += o.sum; sumsq += o.sumsq
      min = math.min(min, o.min); max = math.max(max, o.max)
      vals ++= o.vals
    }
    def add(v: Float, keepVals: Boolean): Unit = {
      count += 1
      if (v.toDouble == Inputs.Nodata) nodata += 1
      else {
        val d = v.toDouble
        sum += d; sumsq += d * d
        if (d < min) min = d
        if (d > max) max = d
        if (keepVals) vals += v
      }
    }
    def stdev: Double = {
      val n = valid.toDouble
      val m = sum / n
      math.sqrt(math.max(0.0, sumsq / n - m * m))
    }
    /** numpy `percentile` (linear) over float32 values: the difference
      * of neighbours in float32, the interpolation in float64. */
    def percentile(p: Double): Double = {
      val s = vals.toArray
      java.util.Arrays.sort(s)
      val n = s.length
      if (n == 1) return s(0).toDouble
      val pos = p / 100.0 * (n - 1)
      val i = math.floor(pos).toInt
      val t = pos - i
      val a = s(i); val b = s(math.min(i + 1, n - 1))
      val diff = (b - a).toDouble
      if (t >= 0.5) b.toDouble - diff * (1.0 - t) else a.toDouble + diff * t
    }
  }

  private def rings(g: Geometry): Seq[Array[Double]] = {
    val out = ArrayBuffer.empty[Array[Double]]
    def ring(l: LineString): Unit = {
      val cs = l.getCoordinates
      out += cs.flatMap(c => Array(c.x, c.y))
    }
    def visit(x: Geometry): Unit = x match {
      case p: Polygon =>
        ring(p.getExteriorRing)
        (0 until p.getNumInteriorRing).foreach(k => ring(p.getInteriorRingN(k)))
      case c: GeometryCollection =>
        (0 until c.getNumGeometries).foreach(k => visit(c.getGeometryN(k)))
      case _ =>
    }
    visit(g)
    out.toSeq
  }

  /** Columns of row `r` whose pixel centre is inside `g`. */
  private def rowColumns(rs: Seq[Array[Double]], r: Int): Iterator[Int] = {
    val gt = Inputs.grid.gt
    val y = gt.y0 + (r + 0.5) * gt.py
    val xs = ArrayBuffer.empty[Double]
    rs.foreach { a =>
      var j = 0
      while (j + 3 < a.length) {
        val ya = a(j + 1); val yb = a(j + 3)
        if ((ya >= y && yb < y) || (yb >= y && ya < y))
          xs += a(j) + (y - ya) * (a(j + 2) - a(j)) / (yb - ya)
        j += 2
      }
    }
    val s = xs.sorted
    Iterator.range(0, s.length / 2).flatMap { k =>
      // centre x = x0 + (c + 0.5) px inside [s(2k), s(2k+1))
      val lo = math.max(0, math.ceil((s(2 * k) - gt.x0) / gt.px - 0.5).toInt)
      val hi = math.min(Inputs.grid.widthPx - 1,
        math.ceil((s(2 * k + 1) - gt.x0) / gt.px - 0.5).toInt - 1)
      Iterator.range(lo, hi + 1)
    }
  }

  private def rowRange(g: Geometry): Range = {
    val e = g.getEnvelopeInternal
    val gt = Inputs.grid.gt
    val r0 = math.max(0, math.floor((e.getMaxY - gt.y0) / gt.py).toInt - 1)
    val r1 = math.min(Inputs.grid.heightPx - 1,
      math.ceil((e.getMinY - gt.y0) / gt.py).toInt + 1)
    r0 to r1
  }

  /** Per-group statistics of `groups` over the raster of pixel
    * `variant`. `zones` are the raw zones in fid order. A zone that
    * owns no pixel centre contributes the reference's envelope
    * fallback instead: every pixel of each part's envelope window (the
    * float32 window math of [[graft.geom.WindowMath]]), the scalars of
    * the last part with a window, the values of all parts. */
  def groupStats(seed: Long, variant: Int, zones: Seq[Zone],
      groups: Seq[String], lastWins: Boolean,
      keepVals: Boolean): Map[String, Stat] = {
    val byFid = zones.sortBy(_.fid)
    val simp = byFid.map(z =>
      Zone.simplifyHalfPixel(z.geom, Inputs.grid.gt.px))
    val rs = simp.map(rings)
    def zoneStat(zi: Int): Stat = {
      val st = new Stat
      val later =
        if (!lastWins) Nil
        else (zi + 1 until simp.length).filter(k =>
          simp(k).getEnvelopeInternal.intersects(simp(zi).getEnvelopeInternal))
      rowRange(simp(zi)).foreach { r =>
        val taken = new java.util.BitSet()
        later.foreach(k => rowColumns(rs(k), r).foreach(c => taken.set(c)))
        rowColumns(rs(zi), r).foreach { c =>
          if (!taken.get(c)) st.add(Inputs.pixel(seed, variant, r, c), keepVals)
        }
      }
      if (st.count > 0) st else fallback(seed, variant, simp(zi), keepVals)
    }
    groups.map { grp =>
      val st = new Stat
      byFid.indices.filter(byFid(_).group == grp).foreach(zi => st.merge(zoneStat(zi)))
      grp -> st
    }.toMap
  }

  private def fallback(seed: Long, variant: Int, g: Geometry,
      keepVals: Boolean): Stat = {
    val grid = Inputs.grid
    val parts = (0 until g.getNumGeometries).flatMap { p =>
      val e = g.getGeometryN(p).getEnvelopeInternal
      val w = graft.geom.WindowMath.envelopeToWindow(e.getMinX, e.getMaxX,
        e.getMinY, e.getMaxY, grid.gt, grid.widthPx, grid.heightPx)
      if (w.isEmpty) None
      else {
        val st = new Stat
        for (r <- w.yoff until w.yoff + w.wy; c <- w.xoff until w.xoff + w.wx)
          st.add(Inputs.pixel(seed, variant, r, c), keepVals)
        Some(st)
      }
    }
    val out = new Stat
    parts.lastOption.foreach { last =>
      out.count = last.count; out.nodata = last.nodata
      if (last.valid > 0) {
        out.sum = last.sum; out.sumsq = last.sumsq
        out.min = last.min; out.max = last.max
      }
    }
    parts.foreach(p => out.vals ++= p.vals)
    out
  }

  /** Overlap pairs of the sampled `a` zones against every zone of
    * `b`, by brute force: (fid_a, fid_b) -> intersection area. */
  def overlapPairs(a: Seq[Zone], b: Seq[Zone]): Map[(Long, Long), Double] =
    (for {
      za <- a; zb <- b
      if za.geom.getEnvelopeInternal.intersects(zb.geom.getEnvelopeInternal)
      area = zb.geom.intersection(za.geom).getArea
      if area > 0.0
    } yield (za.fid, zb.fid) -> area).toMap

  /** Compare engine cells (stat name -> value, None for an empty cell)
    * with the oracle; returns the mismatches. Counts, sums, minima,
    * maxima and percentiles must be bit-exact; the standard deviation
    * only to 1e-9, since it is derived by another formula. */
  def compare(label: String, got: Map[String, Option[Double]], want: Stat,
      percentiles: Seq[Double]): Seq[String] = {
    val hasValid = want.valid > 0
    val exact = Seq(
      "count" -> Some(want.count.toDouble),
      "nodata_count" -> Some(want.nodata.toDouble),
      "valid_count" -> Some(want.valid.toDouble),
      "sum" -> Some(want.sum),
      "min" -> (if (hasValid) Some(want.min) else None),
      "max" -> (if (hasValid) Some(want.max) else None)) ++
      percentiles.map(p => graft.operators.ZonalEngine.percentileKeys(Seq(p))
        .head -> (if (hasValid) Some(want.percentile(p)) else None))
    val bad = exact.collect {
      case (k, w) if got.getOrElse(k, Some(Double.NaN)) != w =>
        s"$label.$k: engine ${got.get(k).flatten} oracle $w"
    }
    val sd = got.get("stdev").flatten
    val sdBad =
      if (!hasValid) sd.isDefined
      else !sd.exists(v => math.abs(v - want.stdev) <=
        1e-9 * math.max(1.0, want.stdev))
    bad ++ (if (sdBad) Seq(s"$label.stdev: engine $sd oracle ${want.stdev}")
      else Nil)
  }
}
