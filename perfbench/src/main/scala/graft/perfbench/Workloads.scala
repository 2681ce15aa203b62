package graft.perfbench

import graft.SparkEntry
import graft.engine.{Caches, Checkpoints, Config, ZonalJob, ZoneStore}
import graft.geom.{Zone, ZoneIndex}
import graft.operators.{OverlapKnn, ZonalEngine, ZonalStats}
import graft.sources.TileTable
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What one rep hands to its check: a digest of its output and the
  * cells to compare. */
final case class RepOut(digest: String,
    cells: Map[(String, String), Map[String, Option[Double]]] = Map.empty,
    phases: Map[String, Double] = Map.empty)

/** Everything a workload needs while it runs. `dir` holds the seeded
  * inputs; `scratch` is emptied before the run. */
final class Ctx(val seed: Long, val dir: Path, val scratch: Path,
    val tr: Tracer, val injectWrong: Boolean) {
  var spark: SparkSession = _
  /** Output of the latest rep that completed. */
  var lastOut: RepOut = _
  /** Checked reps run by the layer probes, and the ones that failed. */
  var probeReps = 0
  var probeFailed = 0
  val probeFailures = mutable.ArrayBuffer.empty[String]
  def span[T](name: String)(f: => T): T = tr.span(name)(f)
}

/** One benchmark workload: input synthesis (cached by seed, in its own
  * JVM), set-up (opening the inputs), one rep, the check of a rep's
  * output, and the per-layer probes of a traced run. */
abstract class Workload(val name: String) {
  def synth(spark: SparkSession, seed: Long, dir: Path): Unit
  def open(c: Ctx): Unit
  def rep(c: Ctx, i: Int): RepOut
  /** Mismatches of rep `i`'s output; empty when it is correct. */
  def check(c: Ctx, i: Int, out: RepOut, cold: RepOut): Seq[String]
  /** Work outside the timed region after a rep (table maintenance). */
  def afterRep(c: Ctx, i: Int): Unit = ()
  /** Tiles the rep's zonal scans read (0: not a tile workload). */
  def tilesRead(c: Ctx): Double = 0.0
  def probes(c: Ctx, m: mutable.Map[String, Double]): Unit
}

object Workloads {
  val all: Seq[Workload] =
    Seq(ZonalPolygons, JobPercentiles, DailyAppend, QueryReplay)
  def byName(n: String): Workload = all.find(_.name == n).getOrElse(
    throw new IllegalArgumentException(
      s"unknown workload $n (one of ${all.map(_.name).mkString(", ")})"))

  def digest(lines: Seq[String]): String =
    f"${graft.functions.XXHash64.hashString(lines.sorted.mkString("\n"), 1L)}%016x"

  /** Per-group stat cells of an engine result frame. */
  def frameCells(rows: Seq[Row], stem: String)
      : Map[(String, String), Map[String, Option[Double]]] =
    rows.map { r =>
      (stem, Option(r.getAs[String]("group")).getOrElse("")) ->
        r.schema.fieldNames.filter(_ != "group").map { f =>
          f -> Option(r.getAs[Any](f)).map(_.asInstanceOf[Number].doubleValue)
        }.toMap
    }.toMap

  /** Per-(raster stem, group) stat cells of a job CSV in the
    * `agg_field,base_raster` orientation. */
  def csvCells(text: String, stems: Seq[String])
      : Map[(String, String), Map[String, Option[Double]]] = {
    val lines = text.split("\r\n").filter(_.nonEmpty)
    val header = lines.head.split(",", -1)
    val cols = header.zipWithIndex.drop(1).map { case (h, k) =>
      val stem = stems.find(s => h.endsWith("_" + s)).getOrElse(
        throw new IllegalStateException(s"unexpected CSV column $h"))
      (stem, h.dropRight(stem.length + 1), k)
    }
    lines.tail.toSeq.flatMap { l =>
      val cells = l.split(",", -1)
      cols.groupBy(_._1).map { case (stem, cs) =>
        (stem, cells(0)) -> cs.map { case (_, f, k) =>
          f -> (if (cells(k).isEmpty) None else Some(cells(k).toDouble))
        }.toMap
      }
    }.toMap
  }

  /** Seeded sample of the country regions the oracle recomputes. */
  def sampleGroups(seed: Long, zones: Seq[Zone], n: Int): Seq[String] = {
    val regions = zones.map(_.group).filter(_.startsWith("region_"))
      .distinct.sorted
    new scala.util.Random(Inputs.mix64(seed ^ 0xC4ECL)).shuffle(regions)
      .take(n)
  }

  /** Compare sampled groups of `got` with oracle stats per stem. With
    * `injectWrong` the expected counts are off by one, which every rep
    * must then fail. */
  def compareGroups(got: Map[(String, String), Map[String, Option[Double]]],
      want: Map[(String, String), Oracle.Stat], percentiles: Seq[Double],
      injectWrong: Boolean): Seq[String] =
    want.toSeq.sortBy(_._1).flatMap { case (key @ (stem, g), st) =>
      got.get(key) match {
        case None => Seq(s"$stem/$g: group missing from the output")
        case Some(cells) =>
          val c = if (!injectWrong) cells
            else cells.updated("count", cells("count").map(_ + 1))
          Oracle.compare(s"$stem/$g", c, st, percentiles)
      }
    }

  def secs[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def mid(xs: Iterable[Double]): Double = {
    val s = xs.toSeq.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val w = Files.walk(p)
      try w.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally w.close()
    }

  def simplified(zones: Seq[Zone]): Seq[Zone] =
    zones.map(z => z.copy(geom =
      Zone.simplifyHalfPixel(z.geom, Inputs.grid.gt.px)))

  /** Per-layer probes of a tile table against a zone set: manifest
    * pruning, scan, decode, the zone index and the single-threaded
    * kernels over a seeded sample of tiles. */
  def tableProbes(c: Ctx, table: TileTable, zonesRaw: Seq[Zone],
      m: mutable.Map[String, Double]): Unit = {
    val spark = c.spark
    val grid = table.grid
    val zones = simplified(zonesRaw)
    val env = Zone.totalEnvelope(zones)
    m("TileTable.prune_s") = mid((1 to 21).map(_ =>
      secs(table.prunedFiles(env))._2))
    val files = table.prunedFiles(env)
    m("TileTable.files_total") = table.manifest.files.size
    m("TileTable.files_read") = files.size
    m("TileTable.prune_ratio") =
      files.size.toDouble / math.max(1, table.manifest.files.size)
    m("TileTable.bytes_read") = files.map(f =>
      Files.size(java.nio.file.Paths.get(table.root, f.path))).sum.toDouble
    m("TileTable.scan_s") = mid((1 to 3).map(_ => secs(
      table.readPruned(spark, env).select(sum(length(col("bytes"))))
        .collect())._2))

    // seeded tile sample, decoded and kernelled on one thread
    val rnd = new scala.util.Random(Inputs.mix64(c.seed ^ 0x7153L))
    val ids = rnd.shuffle((0 until grid.tilesY).flatMap(r =>
      (0 until grid.tilesX).map(cc => ZonalStats.tileId(r, cc)))).take(128)
    val sample = table.read(spark).where(col("image_id").isin(ids: _*))
      .select("image_id", "bytes", "fmt").collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getString(2)))
    val px = sample.length.toDouble * grid.tileW * grid.tileH
    val decode = (1 to 5).map(_ => secs(sample.foreach { case (_, b, f) =>
      graft.functions.ImageCodec.decodeTL(b, f) })._2)
    m("ImageCodec.decode_s") = mid(decode)
    m("ImageCodec.decode_ns_per_px") = mid(decode) * 1e9 / px
    m("ImageCodec.payload_bytes_per_tile") =
      sample.map(_._2.length.toDouble).sum / sample.length

    m("ZoneIndex.build_s") = mid((1 to 5).map(_ => secs {
      val idx = new ZoneIndex(zones.toArray)
      idx.candidates(env)
    }._2))
    val idx = new ZoneIndex(zones.toArray)
    var cands = 0L; var covered = 0L; var crossings = 0L
    val buf = new Array[Double](zones.indices.map(idx.maxEdges).max + 2)
    val probeT = mid((1 to 3).map(_ => secs {
      cands = 0L; covered = 0L; crossings = 0L
      sample.foreach { case (id, _, _) =>
        val (tr, tc) = ZonalStats.parseTileId(id)
        val tEnv = grid.tileEnvelope(tr, tc)
        val col0 = tc * grid.tileW; val row0 = tr * grid.tileH
        idx.candidates(tEnv).foreach { zi =>
          cands += 1
          val ze = idx.zones(zi).geom.getEnvelopeInternal
          val (zc0, zc1) = grid.centerColRange(ze.getMinX, ze.getMaxX)
          val (zr0, zr1) = grid.centerRowRange(ze.getMinY, ze.getMaxY)
          val gc0 = math.max(zc0, col0); val gc1 = math.min(zc1, col0 + grid.tileW - 1)
          val gr0 = math.max(zr0, row0); val gr1 = math.min(zr1, row0 + grid.tileH - 1)
          if (gc0 <= gc1 && gr0 <= gr1) {
            val full = gc0 == col0 && gc1 == col0 + grid.tileW - 1 &&
              gr0 == row0 && gr1 == row0 + grid.tileH - 1
            if (full && idx.coversRect(zi, tEnv)) covered += 1
            else (gr0 to gr1).foreach { r =>
              crossings += idx.crossings(zi, grid.gt.pixelCenterY(r), buf,
                grid.gt.py < 0)
            }
          }
        }
      }
    }._2))
    m("ZoneIndex.candidates_per_tile") = cands.toDouble / sample.length
    m("ZoneIndex.covered_frac") = covered.toDouble / math.max(1L, cands)
    m("ZoneIndex.crossings_per_tile") = crossings.toDouble / sample.length
    m("ZoneIndex.probe_ns_per_tile") = probeT * 1e9 / sample.length

    var partials = 0L
    def kernel(lastWins: Boolean): Double = mid((1 to 3).map(_ => secs {
      partials = 0L
      sample.foreach { case (id, b, f) =>
        val it =
          if (lastWins) ZonalStats.processTileLastWins(id, b, f, grid, idx,
            table.nodata, collectValues = false)
          else ZonalStats.processTile(id, b, f, grid, idx, table.nodata,
            collectValues = false)
        partials += it.size
      }
    }._2)) * 1e9 / sample.length
    m("ZonalStats.kernel_ns_per_tile") = kernel(lastWins = false)
    m("ZonalStats.partials_per_tile") = partials.toDouble / sample.length
    m("ZonalStats.kernel_lastwins_ns_per_tile") = kernel(lastWins = true)

    // zones that own no pixel centre, and the envelope fallback alone
    val bc = spark.sparkContext.broadcast(idx)
    try {
      val present = ZonalStats.fidStats(ZonalStats.tilePartials(
        table.readPruned(spark, env), bc, grid, table.nodata,
        collectValues = false)).select("fid").collect().map(_.getLong(0))
        .toSet
      val unset = zonesRaw.filterNot(z => present.contains(z.fid))
      m("ZonalEngine.unset_zones") = unset.size
      if (unset.nonEmpty) {
        val ue = Zone.totalEnvelope(unset)
        m("ZonalEngine.fallback_s") = mid((1 to 3).map(_ => secs(
          ZonalEngine.run(spark, table.readPruned(spark, ue), unset, grid,
            table.nodata, fallbackTiles = Some(e => table.readPruned(spark, e)),
            fallbackHasTiles = Some(e => table.prunedFiles(e).nonEmpty))
            .collect())._2))
      }
    } finally bc.destroy()
  }

  /** Output-derived counts of a zonal result: pixels assigned, and the
    * exact-percentile value volume when percentiles ran. */
  def outputCounts(cells: Map[(String, String), Map[String, Option[Double]]],
      percentiles: Boolean, m: mutable.Map[String, Double]): Unit = {
    def total(f: String) = cells.values.map(_.get(f).flatten.getOrElse(0.0)).sum
    m("ZonalStats.pixels_assigned") = total("count")
    if (percentiles) {
      m("Percentiles.values") = total("valid_count")
      m("Percentiles.max_group_values") =
        cells.values.map(_.get("valid_count").flatten.getOrElse(0.0)).max
      m("ZonalStats.vals_bytes") = 4.0 * total("valid_count")
    }
  }
}

import Workloads._

/** Percentile-free pair-join `runTable` plus `overlapPairs` over one
  * PNG tile table and the seeded polygon mix. */
object ZonalPolygons extends Workload("zonal_polygons") {
  private var table: TileTable = _
  private var zones: Seq[Zone] = Nil
  private var shifted: Seq[Zone] = Nil
  private var oracle: Map[(String, String), Oracle.Stat] = Map.empty
  private var oraclePairs: Map[(Long, Long), Double] = Map.empty
  private var sampleA: Set[Long] = Set.empty

  def synth(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Inputs.writeTable(spark, seed, 0, dir.resolve("tiles").toString)
    Inputs.writeZones(spark, seed, dir.resolve("zones/zones.parquet").toString)
  }

  def open(c: Ctx): Unit = {
    table = c.span("TileTable.open")(TileTable.open(c.dir.resolve("tiles").toString))
    zones = c.span("ZoneStore.load")(ZoneStore.load(c.spark,
      c.dir.resolve("zones/zones.parquet").toString, Inputs.GroupField))
    // the overlap partner set: every zone moved by (7.3, 4.1) pixels
    val t = new org.locationtech.jts.geom.util.AffineTransformation()
      .translate(7.3 * Inputs.PxDeg, -4.1 * Inputs.PxDeg)
    shifted = zones.map(z => Zone(z.fid + 100000L, z.group, t.transform(z.geom)))
  }

  def rep(c: Ctx, i: Int): RepOut = {
    val spark = c.spark
    import spark.implicits._
    val stats = c.span("ZonalEngine.runTable")(
      ZonalEngine.runTable(spark, table, zones).collect())
    val pairs = c.span("OverlapKnn.overlapPairs") {
      val a = zones.map(z => (z.fid, Zone.toWkb(z.geom))).toDF("fid", "geom_wkb")
      val bc = spark.sparkContext.broadcast(new ZoneIndex(shifted.toArray))
      try OverlapKnn.overlapPairs(spark, a, bc).collect()
      finally bc.destroy()
    }
    val pairCells = pairs.map(r => ("pairs", s"${r.getLong(0)}-${r.getLong(1)}") ->
      Map("area" -> Option(r.getDouble(2)))).toMap
    RepOut(digest(stats.map(_.toString) ++ pairs.map(_.toString)),
      frameCells(stats, "tiles") ++ pairCells)
  }

  def check(c: Ctx, i: Int, out: RepOut, cold: RepOut): Seq[String] = {
    if (oracle.isEmpty) {
      oracle = Oracle.groupStats(c.seed, 0, zones, sampleGroups(c.seed, zones, 3),
        lastWins = false, keepVals = false).map { case (g, s) => ("tiles", g) -> s }
      val rnd = new scala.util.Random(Inputs.mix64(c.seed ^ 0x0E1AL))
      sampleA = rnd.shuffle(zones.map(_.fid)).take(4).toSet
      oraclePairs = Oracle.overlapPairs(zones.filter(z => sampleA.contains(z.fid)),
        shifted)
    }
    val got = out.cells.collect {
      case (("pairs", k), v) if sampleA.contains(k.split('-')(0).toLong) =>
        val Array(a, b) = k.split('-').map(_.toLong)
        (a, b) -> v("area").get
    }
    val want = if (!c.injectWrong) oraclePairs
      else oraclePairs.map { case (k, v) => k -> (v + 1.0) }
    val pairErr =
      if (got == want) Nil
      else Seq(s"overlap pairs of fids ${sampleA.toSeq.sorted}: engine " +
        s"${got.size} pairs, oracle ${want.size} (or areas differ)")
    val drift = if (i > 0 && out.digest != cold.digest)
      Seq(s"output digest ${out.digest} differs from the cold rep's ${cold.digest}")
      else Nil
    compareGroups(out.cells, oracle, Nil, c.injectWrong) ++ pairErr ++ drift
  }

  override def tilesRead(c: Ctx): Double =
    table.prunedFiles(Zone.totalEnvelope(simplified(zones))).map(_.rows).sum.toDouble

  def probes(c: Ctx, m: mutable.Map[String, Double]): Unit = {
    tableProbes(c, table, zones, m)
    outputCounts(c.lastOut.cells.filter(_._1._1 == "tiles"), percentiles = false, m)
    DailyAppend.probeInto(c, m, reps = 3)
  }
}

/** The production path: an INI config with the reference op list,
  * zones from the ZoneStore, `ZonalJob.run` over two rasters (last-wins,
  * exact p5/p95, checkpointed chunks) and the CSV. Every rep runs in a
  * fresh work and output directory, so neither the job memo nor chunk
  * resume can skip work. */
object JobPercentiles extends Workload("job_percentiles") {
  val Stems = Seq("raster_a", "raster_b")
  private var tables: Seq[TileTable] = Nil
  private var zones: Seq[Zone] = Nil
  private var oracle: Map[(String, String), Oracle.Stat] = Map.empty
  def zonesPath(c: Ctx): String = c.dir.resolve("zones/zones.parquet").toString

  def synth(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Stems.zipWithIndex.foreach { case (s, v) =>
      Inputs.writeTable(spark, seed, v, dir.resolve(s"rasters/$s").toString)
    }
    Inputs.writeZones(spark, seed, dir.resolve("zones/zones.parquet").toString)
  }

  def open(c: Ctx): Unit = {
    tables = Stems.map(s => c.span("TileTable.open")(
      TileTable.open(c.dir.resolve(s"rasters/$s").toString)))
    zones = c.span("ZoneStore.load")(
      ZoneStore.load(c.spark, zonesPath(c), Inputs.GroupField))
  }

  private def repDir(c: Ctx, i: Int): Path = c.scratch.resolve(s"rep_$i")

  def rep(c: Ctx, i: Int): RepOut = {
    val d = repDir(c, i)
    val ini = Inputs.writeIni(d, name, d.resolve("work"), d.resolve("out"),
      zonesPath(c), c.dir.resolve("rasters").toString + "/raster_*",
      Inputs.PercentileOps)
    val cfg = c.span("Config.parseAndValidate")(Config.parseAndValidate(ini))
    val out = c.span("ZonalJob.run")(ZonalJob.run(c.spark, cfg.jobs.head, None))
    val text = Files.readString(java.nio.file.Paths.get(out))
    RepOut(digest(Seq(text)), csvCells(text, Stems))
  }

  def check(c: Ctx, i: Int, out: RepOut, cold: RepOut): Seq[String] = {
    if (oracle.isEmpty) {
      val groups = sampleGroups(c.seed, zones, 2)
      oracle = Stems.zipWithIndex.flatMap { case (s, v) =>
        Oracle.groupStats(c.seed, v, zones, groups, lastWins = true,
          keepVals = true).map { case (g, st) => (s, g) -> st }
      }.toMap
    }
    val drift = if (i > 0 && out.digest != cold.digest)
      Seq(s"CSV digest ${out.digest} differs from the cold rep's ${cold.digest}")
      else Nil
    compareGroups(out.cells, oracle, Seq(5.0, 95.0), c.injectWrong) ++ drift
  }

  /** Keep the last rep's directories for the probes; drop older ones. */
  override def afterRep(c: Ctx, i: Int): Unit =
    if (i > 0) Checkpoints.deleteRecursively(repDir(c, i - 1))

  override def tilesRead(c: Ctx): Double = tables.map(t =>
    t.prunedFiles(Zone.totalEnvelope(simplified(zones))).map(_.rows).sum).sum.toDouble

  def probes(c: Ctx, m: mutable.Map[String, Double]): Unit = {
    val spark = c.spark
    val table = tables.head
    tableProbes(c, table, zones, m)
    val zs = simplified(zones)
    val env = Zone.totalEnvelope(zs)
    import spark.implicits._
    val zonesDf = zs.map(z => (z.fid, Option(z.group))).toDF("fid", "group")

    // exact percentiles over the last-wins partials of one raster
    val bc = spark.sparkContext.broadcast(new ZoneIndex(zs.toArray))
    val partials = ZonalStats.tilePartials(table.readPruned(spark, env), bc,
      table.grid, table.nodata, collectValues = true, lastWins = true)
      .persist()
    try {
      partials.count()
      val chunks = broadcast(zonesDf).join(partials.select("fid", "vals"), Seq("fid"))
        .select("group", "vals")
      m("Percentiles.agg_s") = secs(ZonalStats.groupStats(
        ZonalStats.fidStats(partials), zonesDf,
        Some((chunks, Array(5.0, 95.0))), exactPercentiles = true).collect())._2
    } finally { partials.unpersist(true); bc.destroy() }

    // the checkpointed chunk phase of one raster, in a fresh directory
    val ck = c.scratch.resolve("ckpt_probe")
    val ((_, _, n), chunkS) = secs(Checkpoints.chunkedFidStats(spark, table, zs,
      ck.toString, "probe", collectValues = true, lastWins = true,
      filesOverride = Some(table.prunedFiles(env))))
    m("Checkpoints.chunked_s") = chunkS
    m("Checkpoints.chunks") = n
    m("Checkpoints.bytes_written") = dirBytes(ck).toDouble
    m("Checkpoints.write_amp") =
      dirBytes(ck).toDouble / math.max(1.0, m("TileTable.bytes_read"))
    Checkpoints.deleteRecursively(ck)

    // the CSV render, over the stats of the last rep's CSV
    val cells = c.lastOut.cells
    val stats: Map[String, ZonalJob.GroupStats] = Stems.map { s =>
      s -> cells.collect { case ((`s`, g), v) =>
        (if (g.isEmpty) None else Some(g)) -> v.map { case (f, x) =>
          f -> x.map(d => if (f.endsWith("count")) d.toLong: Any else d: Any)
        }
      }
    }.toMap
    m("ZonalJob.render_s") = mid((1 to 21).map(_ => secs(
      ZonalJob.renderCsv(Inputs.GroupField, "agg_field,base_raster", Stems,
        stats, Seq("p5", "p95")))._2))
    outputCounts(cells, percentiles = true, m)
  }
}

/** Read-write path: each rep replaces one seeded band of tile rows
  * with a new pixel variant (`deleteWhere` + `appendBatch`), then
  * re-runs a percentile-free job whose fid-stats sidecar lets
  * `ZonalJob` fold only the change window (`runIncremental`, with
  * retraction). The table is compacted outside the timed region. */
object DailyAppend extends Workload("daily_append") {
  val Stem = "daily"
  val BandRows: Int = math.max(1, Inputs.TilesY / 10)
  private var zones: Seq[Zone] = Nil
  /** Per checked rep: 1 when the refresh folded the change window. */
  private var incremental: Seq[Double] = Nil
  def root(c: Ctx): String = c.dir.resolve(s"rasters/$Stem").toString
  def ini(c: Ctx): Path = c.dir.resolve("config/daily_append.ini")
  def sidecars(c: Ctx): Seq[Path] = {
    val w = Files.walk(c.dir.resolve("work"))
    try scala.jdk.CollectionConverters.IteratorHasAsScala(w.iterator()).asScala
      .filter(_.getFileName.toString == "fidstats.json").toList
    finally w.close()
  }

  def synth(spark: SparkSession, seed: Long, dir: Path): Unit = {
    Inputs.writeTable(spark, seed, 0, dir.resolve(s"rasters/$Stem").toString)
    val zp = dir.resolve("zones/zones.parquet").toString
    Inputs.writeZones(spark, seed, zp)
    // yesterday's run: the full job that leaves the fid-stats sidecar.
    // The raster pattern carries a glob character: `Config` walks an
    // absolute pattern without one from the filesystem root (NOTES.md)
    val cfg = Inputs.writeIni(dir.resolve("config"), name, dir.resolve("work"),
      dir.resolve("out"), zp, dir.resolve("rasters").toString + "/*",
      Inputs.PlainOps)
    ZonalJob.run(spark, Config.parseAndValidate(cfg).jobs.head, None)
  }

  def open(c: Ctx): Unit = {
    c.span("TileTable.open")(TileTable.open(root(c)))
    zones = c.span("ZoneStore.load")(ZoneStore.load(c.spark,
      c.dir.resolve("zones/zones.parquet").toString, Inputs.GroupField))
  }

  /** The band of tile rows rep `i` replaces. */
  def band(c: Ctx, i: Int): Int =
    new java.util.Random(Inputs.mix64(c.seed * 7919 + i))
      .nextInt(Inputs.TilesY - BandRows + 1)

  def rep(c: Ctx, i: Int): RepOut = {
    val spark = c.spark
    val r0 = band(c, i)
    val tr = regexp_extract(col("image_id"), "tile_(\\d+)_(\\d+)", 1).cast("int")
    val sidecar = sidecars(c).headOption
    // the traced probe of runIncremental folds from the same saved state
    if (c.tr.enabled) sidecar.foreach(p =>
      Files.copy(p, c.scratch.resolve("fidstats_prev.json"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING))
    val bytes0 = dirBytes(java.nio.file.Paths.get(root(c)))
    val (_, commitS) = secs {
      c.span("TileTable.deleteWhere")(TileTable.deleteWhere(spark, root(c),
        tr >= r0 && tr < r0 + BandRows))
      c.span("TileTable.appendBatch")(TileTable.appendBatch(spark, root(c),
        Inputs.tiles(spark, c.seed, i + 2, r0, r0 + BandRows),
        batchId = i.toLong, numFiles = 4))
    }
    val written = dirBytes(java.nio.file.Paths.get(root(c))) - bytes0
    val (out, refreshS) = secs {
      val cfg = c.span("Config.parseAndValidate")(Config.parseAndValidate(ini(c)))
      c.span("ZonalJob.run")(ZonalJob.run(spark, cfg.jobs.head, None))
    }
    val text = Files.readString(java.nio.file.Paths.get(out))
    RepOut(digest(Seq(text)), csvCells(text, Seq(Stem)),
      Map("commit_s" -> commitS, "refresh_s" -> refreshS,
        "bytes_written" -> written.toDouble))
  }

  def check(c: Ctx, i: Int, out: RepOut, cold: RepOut): Seq[String] = {
    // the refresh must equal a full recompute at the same version
    val head = TileTable.open(root(c))
    val full = frameCells(ZonalEngine.runTable(c.spark, head, zones,
      lastWins = true).collect(), Stem)
    val want = if (!c.injectWrong) full
      else full.map { case (k, v) => k -> v.updated("count", v("count").map(_ + 1)) }
    val diff = (want.keySet ++ out.cells.keySet).toSeq.sorted.filter(k =>
      want.get(k).map(_.filter(_._1 != "group")) != out.cells.get(k))
    incremental :+= (if (sidecars(c).exists(p => ZonalJob.incrMarker(
      p.getParent.toString).isDefined)) 1.0 else 0.0)
    diff.take(3).map(k => s"$k: refresh ${out.cells.get(k)} full ${want.get(k)}")
  }

  override def afterRep(c: Ctx, i: Int): Unit = {
    val before = TileTable.open(root(c)).version
    if (c.tr.enabled) {
      // the layer calls inside the refresh, replayed on its window
      val prev = c.scratch.resolve("fidstats_prev.json")
      if (Files.exists(prev)) {
        Checkpoints.readFidStatsSidecar(c.spark, prev.toString).foreach {
          case (stats, v0, _) =>
            c.span("TileTable.changedSets")(TileTable.changedSets(root(c), v0, before))
            val t = TileTable.openAt(root(c), before)
            c.span("ZonalEngine.runIncremental")(ZonalEngine.runIncremental(c.spark,
              t, zones, stats, fromVersion = v0, lastWins = true).collect())
        }
      }
    }
    c.span("TileTable.compact")(TileTable.compact(c.spark, root(c), Inputs.NumFiles))
  }

  /** The refresh reads the deleted and the appended band. */
  override def tilesRead(c: Ctx): Double = 2.0 * BandRows * Inputs.TilesX

  def probes(c: Ctx, m: mutable.Map[String, Double]): Unit = {
    tableProbes(c, TileTable.open(root(c)), zones, m)
    outputCounts(c.lastOut.cells, percentiles = false, m)
    layers(c, m)
  }

  /** The commit, change-planning and fold layers, from the spans and
    * phases of the traced reps. */
  def layers(c: Ctx, m: mutable.Map[String, Double]): Unit = {
    def med(n: String) = mid(c.tr.byName(n).map(_.secs))
    m("ZonalJob.incremental") = mid(incremental)
    m("TileTable.delete_s") = med("TileTable.deleteWhere")
    m("TileTable.append_s") = med("TileTable.appendBatch")
    m("TileTable.changes_s") = med("TileTable.changedSets")
    m("TileTable.compact_s") = med("TileTable.compact")
    m("ZonalEngine.incremental_s") = med("ZonalEngine.runIncremental")
  }

  /** The daily-append reps as a layer probe of another workload's
    * traced run: this workload's inputs in the parent's scratch
    * directory and `reps` traced reps, each checked against a full
    * recompute. Sets the commit, refresh and fold layers. */
  def probeInto(parent: Ctx, m: mutable.Map[String, Double], reps: Int): Unit = {
    val c = new Ctx(parent.seed, parent.scratch.resolve("daily_input"),
      parent.scratch.resolve("daily_scratch"), parent.tr, parent.injectWrong)
    c.spark = parent.spark
    Files.createDirectories(c.scratch)
    synth(c.spark, c.seed, c.dir)
    open(c)
    val tr = parent.tr
    val saved = (tr.enabled, tr.rep)
    tr.enabled = true
    tr.rep = -2
    val outs =
      try (0 until reps).map { i =>
        val out = rep(c, i)
        parent.probeReps += 1
        val errs = check(c, i, out, out)
        if (errs.nonEmpty) parent.probeFailed += 1
        parent.probeFailures ++= errs.take(5).map(e => s"daily_append rep $i: $e")
        afterRep(c, i)
        out
      } finally { tr.enabled = saved._1; tr.rep = saved._2 }
    layers(c, m)
    def ph(k: String) = mid(outs.map(_.phases(k)))
    m("commit_s") = ph("commit_s")
    m("refresh_s") = ph("refresh_s")
    m("TileTable.bytes_written") = ph("bytes_written")
  }
}

/** The seven `graft.Bench` secondary queries back to back in one
  * long-lived session, over seeded tables of the shapes they read. */
object QueryReplay extends Workload("query_replay") {
  val Queries = Seq("q_zonal_basic", "q_token_stats", "q_embed_topk",
    "q_agg_pricing", "q_minhash_lsh", "q_minhash_clusters", "q_minhash_incr")
  def sf(c: Ctx): String = c.dir.resolve("sf").toString

  def synth(spark: SparkSession, seed: Long, dir: Path): Unit =
    Inputs.writeQueryTables(spark, seed, dir.resolve("sf").toString)

  def open(c: Ctx): Unit =
    Seq("documents", "embeddings", "lineitem").foreach(t =>
      c.span("parquet.open")(c.spark.read.parquet(s"${sf(c)}/$t.parquet").schema))

  def rep(c: Ctx, i: Int): RepOut = {
    val outs = Queries.map { q =>
      q -> c.span(s"query.$q") {
        try SparkEntry.queries(q)(c.spark, sf(c)).collect()
        finally Caches.drain(c.spark)
      }
    }.toMap
    def total(q: String, f: String) =
      Map("n" -> Option(outs(q).map(_.getAs[Long](f)).sum.toDouble))
    RepOut(digest(Queries.map(q => q + ":" + digest(outs(q).map(_.toString)))),
      Map(("q_agg_pricing", "cnt") -> total("q_agg_pricing", "cnt"),
        ("q_token_stats", "n_docs") -> total("q_token_stats", "n_docs")))
  }

  def check(c: Ctx, i: Int, out: RepOut, cold: RepOut): Seq[String] = {
    val off = if (c.injectWrong) 1.0 else 0.0
    val counts = Seq(
      ("q_agg_pricing", "cnt") -> (Inputs.LineItems + off),
      ("q_token_stats", "n_docs") -> (Inputs.Docs + off)).collect {
      case (k, want) if out.cells(k)("n") != Some(want) =>
        s"$k: ${out.cells(k)("n")} rows counted, $want generated"
    }
    val drift = if (i > 0 && out.digest != cold.digest)
      Seq(s"replay digest ${out.digest} differs from the cold rep's ${cold.digest}")
      else Nil
    counts ++ drift
  }

  def probes(c: Ctx, m: mutable.Map[String, Double]): Unit = ()
}
