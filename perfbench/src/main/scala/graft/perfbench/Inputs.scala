package graft.perfbench

import graft.engine.ZoneStore
import graft.functions.{ImageCodec, XXHash64}
import graft.geom.{GeoTransform, RasterGrid, Zone}
import graft.operators.ZonalStats
import graft.sources.TileTable
import graft.synth.TileRow
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.locationtech.jts.geom.{Coordinate, Geometry, GeometryFactory, LinearRing, Polygon}

import java.nio.file.{Files, Path}

/** Seeded benchmark inputs. Every value is a pure function of the
  * workload seed, so the same seed always yields the same tables,
  * zones and query data, and the output checks can recompute any
  * pixel from its coordinates alone.
  *
  * One table shape serves all three zonal workloads: `TilesX` ×
  * `TilesY` PNG tiles of `TilePx`² integer-valued pixels. */
object Inputs {
  /** Self-test scale (`-Dperfbench.tiny=true`): the same inputs, small. */
  val Tiny: Boolean = sys.props.get("perfbench.tiny").contains("true")
  val TilePx = 128
  val TilesX: Int = if (Tiny) 8 else 32
  val TilesY: Int = if (Tiny) 6 else 24
  val NumFiles = 4
  val Nodata: Double = -9999.0
  /** Pixel size in degrees (square pixels, north-up). */
  val PxDeg = 0.01

  val grid: RasterGrid = RasterGrid(
    GeoTransform(-180.0, PxDeg, 0.0, 90.0, 0.0, -PxDeg),
    widthPx = TilesX * TilePx, heightPx = TilesY * TilePx,
    tileW = TilePx, tileH = TilePx)

  /** Zone attribute the jobs group by. */
  val GroupField = "region"

  def mix64(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  /** Pixel value at global (row, col) for a seed and a pixel variant
    * (raster b of the job, the replacement batches of the daily
    * append): a smooth integer ramp plus 6 bits of per-pixel noise,
    * with two-row nodata stripes every 113 rows. Integer-valued, so
    * float32 storage, PNG round trip and float64 sums are exact. */
  def pixel(seed: Long, variant: Int, gr: Int, gc: Int): Float = {
    val s = mix64(seed * 1000003L + variant)
    val stripe = ((s >>> 8) & 127).toInt
    if ((gr + stripe) % 113 < 2) Nodata.toFloat
    else {
      val a = 1 + (s & 7).toInt
      val b = 1 + ((s >>> 3) & 7).toInt
      val h = mix64(s ^ ((gr.toLong << 32) | gc.toLong))
      (((gr / 16) * a + (gc / 16) * b) % 400 + (h & 63).toInt).toFloat
    }
  }

  def tilePixels(seed: Long, variant: Int, tr: Int, tc: Int): Array[Float] = {
    val px = new Array[Float](TilePx * TilePx)
    var i = 0
    while (i < px.length) {
      px(i) = pixel(seed, variant, tr * TilePx + i / TilePx,
        tc * TilePx + i % TilePx)
      i += 1
    }
    px
  }

  def tileRow(seed: Long, variant: Int, tr: Int, tc: Int): TileRow = {
    val px = tilePixels(seed, variant, tr, tc)
    TileRow(ZonalStats.tileId(tr, tc),
      ImageCodec.encodePng(px, TilePx, TilePx), TilePx, TilePx, "png",
      s"perfbench tile r$tr c$tc v$variant",
      XXHash64.hash(ImageCodec.encodeRaw(px), seed))
  }

  /** Tiles (tr, tc) with `rowLo <= tr < rowHi`, generated inside the
    * executors. */
  def tiles(spark: SparkSession, seed: Long, variant: Int,
      rowLo: Int = 0, rowHi: Int = TilesY): DataFrame = {
    import spark.implicits._
    val (s, v, lo) = (seed, variant, rowLo)
    spark.range(0, (rowHi - rowLo).toLong * TilesX).as[Long]
      .map(i => tileRow(s, v, lo + (i / TilesX).toInt, (i % TilesX).toInt))
      .toDF()
  }

  def writeTable(spark: SparkSession, seed: Long, variant: Int,
      root: String): TileTable = {
    // encoded once: the write samples its input for the range partition
    val t = tiles(spark, seed, variant).persist()
    try TileTable.write(spark, t, grid, Some(Nodata), root, numFiles = NumFiles)
    finally t.unpersist()
  }

  // ---- zones ----

  private val gf = new GeometryFactory()

  def geoX(col: Double): Double = grid.gt.x0 + col * grid.gt.px
  def geoY(row: Double): Double = grid.gt.y0 + row * grid.gt.py

  /** Closed star-shaped ring around pixel-space (cx, cy). The radius
    * at each of `n` angles is `r` times a smooth shape term plus
    * per-vertex jitter of up to `jitterPx` pixels, so the ring is
    * simple and its vertices survive half-pixel simplification. */
  private def ring(rnd: java.util.Random, cx: Double, cy: Double,
      r: Double, n: Int, jitterPx: Double): LinearRing = {
    val ph1 = rnd.nextDouble() * 2 * math.Pi
    val ph2 = rnd.nextDouble() * 2 * math.Pi
    val cs = new Array[Coordinate](n + 1)
    var k = 0
    while (k < n) {
      val t = 2 * math.Pi * k / n
      val shape = 1.0 + 0.12 * math.sin(3 * t + ph1) +
        0.08 * math.sin(5 * t + ph2)
      val rr = r * shape + jitterPx * (rnd.nextDouble() - 0.5)
      cs(k) = new Coordinate(geoX(cx + rr * math.cos(t)),
        geoY(cy + rr * math.sin(t)))
      k += 1
    }
    cs(n) = cs(0)
    gf.createLinearRing(cs)
  }

  private def poly(shell: LinearRing, holes: LinearRing*): Polygon =
    gf.createPolygon(shell, holes.toArray)

  /** The seeded zone mix, in burn (fid) order:
    *   - 3 continent-scale blobs: most of their tiles are interior and
    *     take the whole-tile coverage path;
    *   - 18 country-scale polygons of 10³–10⁴ vertices, every third
    *     with a hole and every fourth with a detached island part;
    *   - 10 sub-pixel slivers (two of them two-part), which own no
    *     pixel centre and take the envelope fallback.
    * The seed moves and jitters the zones but leaves their sizes and
    * vertex counts alone, so every seed asks for about the same work.
    * Countries fall into six regions; continents and slivers have
    * groups of their own. */
  def zones(seed: Long): Seq[Zone] = {
    val rnd = new java.util.Random(mix64(seed ^ 0x5A5A5AL))
    val w = grid.widthPx.toDouble; val h = grid.heightPx.toDouble
    val out = Seq.newBuilder[Zone]
    var fid = 1L
    for (k <- 0 until 3) {
      val r = h * (0.22 + 0.04 * k)
      val cx = w * (0.2 + 0.3 * k) + (rnd.nextDouble() - 0.5) * w * 0.05
      val cy = h * (0.5 + (rnd.nextDouble() - 0.5) * 0.2)
      out += Zone(fid, s"continent_$k", poly(ring(rnd, cx, cy, r, 256, 0.0)))
      fid += 1
    }
    // countries: one per cell of a 6 × 3 grid, in a seeded order, at a
    // seeded spot of the cell's middle half
    val cells = new scala.util.Random(rnd.nextLong()).shuffle((0 until 18).toList)
    for (k <- 0 until 18) {
      val r = h * (0.05 + 0.07 * ((k * 7) % 18) / 17.0)
      val cell = cells(k)
      val cx = w * ((cell % 6) + 0.25 + 0.5 * rnd.nextDouble()) / 6
      val cy = h * ((cell / 6) + 0.25 + 0.5 * rnd.nextDouble()) / 3
      val n = math.round(1000 * math.pow(10, k / 17.0)).toInt
      val shell = ring(rnd, cx, cy, r, n, 6.0)
      val main =
        if (k % 3 == 0) poly(shell, ring(rnd, cx, cy, r * 0.3, 64, 0.0))
        else poly(shell)
      val geom: Geometry =
        if (k % 4 == 1) {
          // island off the main part, clear of it in every direction
          val a = rnd.nextDouble() * 2 * math.Pi
          val ix = cx + 1.9 * r * math.cos(a)
          val iy = cy + 1.9 * r * math.sin(a)
          gf.createMultiPolygon(Array(main,
            poly(ring(rnd, ix, iy, r * 0.35, 200, 2.0))))
        } else main
      out += Zone(fid, s"region_${k % 6}", geom)
      fid += 1
    }
    for (k <- 0 until 10) {
      // a sliver inside one pixel's upper-left quarter: it can never
      // contain the pixel centre
      def sliver(): Polygon = {
        val c = 1 + rnd.nextInt(grid.widthPx - 2)
        val r = 1 + rnd.nextInt(grid.heightPx - 2)
        val x0 = c + 0.05 + 0.1 * rnd.nextDouble()
        val y0 = r + 0.05 + 0.1 * rnd.nextDouble()
        gf.createPolygon(Array(
          new Coordinate(geoX(x0), geoY(y0)),
          new Coordinate(geoX(x0 + 0.3), geoY(y0)),
          new Coordinate(geoX(x0 + 0.3), geoY(y0 + 0.25)),
          new Coordinate(geoX(x0), geoY(y0 + 0.25)),
          new Coordinate(geoX(x0), geoY(y0))))
      }
      val g: Geometry =
        if (k % 5 == 0) gf.createMultiPolygon(Array(sliver(), sliver()))
        else sliver()
      out += Zone(fid, s"sliver_${k % 2}", g)
      fid += 1
    }
    out.result()
  }

  def writeZones(spark: SparkSession, seed: Long, path: String): Unit =
    ZoneStore.write(spark, zones(seed), GroupField, path)

  // ---- job configuration ----

  /** The reference's production op list (`avg,stdev,valid_count,
    * total_count,p5,p95`) or its percentile-free subset. */
  val PercentileOps = "avg,stdev,valid_count,total_count,p5,p95"
  val PlainOps = "avg,stdev,valid_count,total_count"

  /** Write `<dir>/<name>.ini` for one job over the rasters matched by
    * `rasterPattern`; returns its path. */
  def writeIni(dir: Path, name: String, workDir: Path, outDir: Path,
      zonesPath: String, rasterPattern: String, ops: String): Path = {
    Files.createDirectories(dir)
    val p = dir.resolve(s"$name.ini")
    Files.writeString(p,
      s"""[project]
         |name = $name
         |global_work_dir = $workDir
         |global_output_dir = $outDir
         |log_level = WARN
         |
         |[job:zones]
         |agg_vector = $zonesPath
         |agg_field = $GroupField
         |base_raster_pattern = $rasterPattern
         |operations = $ops
         |row_col_order = agg_field,base_raster
         |""".stripMargin)
    p
  }

  // ---- query-replay tables (the TPC-H-ish shapes the queries read) ----

  val Docs: Int = if (Tiny) 100 else 600
  val Vectors: Int = if (Tiny) 100 else 500
  val LineItems: Int = if (Tiny) 5000 else 100000
  private val Vocab = ("batch part spark line column order small sort fast " +
    "value scan hash slow group agg filter query big key window row " +
    "table stream merge data customer join vector the a").split(' ')
  private val Langs = Array("en", "en", "en", "zh", "de", "fr", "es")

  def writeQueryTables(spark: SparkSession, seed: Long, dir: String): Unit = {
    import spark.implicits._
    val rnd = new java.util.Random(mix64(seed ^ 0xD0C5L))
    val texts = new Array[String](Docs)
    for (i <- 0 until Docs) {
      texts(i) =
        if (i % 10 == 7 && i > 10) {
          // near duplicate of an earlier document: one word swapped
          val ws = texts(rnd.nextInt(i)).split(' ')
          ws(rnd.nextInt(ws.length)) = Vocab(rnd.nextInt(Vocab.length))
          ws.mkString(" ")
        } else Array.fill(10 + rnd.nextInt(60))(
          Vocab(rnd.nextInt(Vocab.length))).mkString(" ")
    }
    texts.zipWithIndex.map { case (t, i) =>
      (i.toLong, t, Langs(rnd.nextInt(Langs.length)), s"src${i % 20}",
        t.length.toLong)
    }.toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    val centers = Array.fill(10, 64)(rnd.nextGaussian().toFloat * 0.1f)
    (0 until Vectors).map { i =>
      val label = rnd.nextInt(10)
      val v = Array.tabulate(64)(d =>
        centers(label)(d) + rnd.nextGaussian().toFloat * 0.05f)
      (i.toLong, v, label)
    }.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$dir/embeddings.parquet")

    def h(k: Int) = pmod(xxhash64(col("id"), lit(seed * 31 + k)),
      lit(1000000L))
    spark.range(LineItems).select(
      (h(1) % 150000).as("l_orderkey"),
      (h(2) % 20000).as("l_partkey"),
      (h(3) % 1000).as("l_suppkey"),
      (h(4) % 7 + 1).cast("int").as("l_linenumber"),
      (h(5) % 50 + 1).cast("double").as("l_quantity"),
      (h(6) % 10000000 / 100.0).as("l_extendedprice"),
      (h(7) % 11 / 100.0).as("l_discount"),
      (h(8) % 9 / 100.0).as("l_tax"),
      element_at(array(lit("A"), lit("N"), lit("R")),
        (h(9) % 3 + 1).cast("int")).as("l_returnflag"),
      element_at(array(lit("O"), lit("F")),
        (h(10) % 2 + 1).cast("int")).as("l_linestatus"),
      timestamp_seconds(lit(694224000L) + h(11) % 3000 * 86400)
        .as("l_shipdate"))
      .coalesce(1).write.parquet(s"$dir/lineitem.parquet")
  }
}
