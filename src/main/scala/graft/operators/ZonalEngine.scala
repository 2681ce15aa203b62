package graft.operators

import graft.functions.ImageCodec
import graft.geom._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** End-to-end zonal statistics over a tile table — the Spark-native
  * `fast_zonal_statistics` (`/root/reference/runner.py:264-926`).
  *
  * Pipeline: bbox short-circuit → zone simplify(½px) + broadcast index
  * → tile scan with per-tile partial aggregation (rasterize join
  * replacement) → per-FID hash agg → unset-FID envelope fallback →
  * FID→group rollup with gated min/max → exact numpy percentiles →
  * finalize (population stdev, zero-fill).
  *
  * Replicated reference quirks (SURVEY.md §4): center-point
  * assignment, `np.isclose` nodata, float32 geotransform window math,
  * fallback WITHOUT point-in-polygon, last-part-wins scalar overwrite
  * for multipart fallback zones, min/max group merge gated on
  * fid valid_count>0, population stdev clamped at var>=0.
  */
object ZonalEngine {

  /** Final stat column order (reference accumulator insertion order
    * after `del sumsq`, `runner.py:849-861,917`). */
  def statFields(percentileKeys: Seq[String]): Seq[String] =
    Seq("min", "max", "count", "nodata_count", "valid_count", "sum",
      "stdev") ++ percentileKeys

  /** `p5`, `p2.5`-style keys (`runner.py:291-293`). */
  def percentileKeys(ps: Seq[Double]): Seq[String] =
    ps.map(p => if (p.isValidInt) s"p${p.toInt}" else s"p$p")

  /** Normalize a percentile op list the way the reference does
    * (`runner.py:289-290`): float-parse, dedup, sort. */
  def normalizePercentiles(ps: Seq[Double]): Seq[Double] =
    ps.distinct.sorted

  /** Tile-count threshold for the SCALE-AWARE percentile default: at
    * 128² px/tile this is ~68 Gpx — beyond it the mergeable
    * Greenwald-Khanna sketch takes over from the exact numpy-parity
    * path. The exact path no longer concentrates values anywhere (its
    * two [[RadixSelect]] passes ship O(groups × buckets) counts), but
    * it decodes the table twice; callers needing bit-parity at any
    * size pass an explicit override. */
  val ExactPercentileMaxTiles: Long = 4L * 1024 * 1024

  /** true = exact percentiles. Auto mode (None override): exact while
    * the table is small enough, sketch beyond the threshold. */
  def choosePercentileMode(tableTiles: Long,
      exactOverride: Option[Boolean] = None): Boolean =
    exactOverride.getOrElse(tableTiles <= ExactPercentileMaxTiles)

  /** Table-level entry: the manifest-pruned zonal run with the
    * percentile mode chosen from the table's size (see
    * [[choosePercentileMode]]) unless overridden. */
  def runTable(spark: SparkSession, table: graft.sources.TileTable,
      zonesRaw: Seq[Zone], percentilesRaw: Seq[Double] = Nil,
      lastWins: Boolean = false,
      exactPercentilesOverride: Option[Boolean] = None,
      band: Option[Int] = None): DataFrame = {
    // reference rasters are addressed as (path, band) (runner.py:264-265):
    // a multi-band table scanned without a band filter would mix every
    // band's rows into the same stats — fail loudly instead
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")
    val env = Zone.totalEnvelope(zonesRaw)
    val exact = choosePercentileMode(
      table.manifest.files.map(_.rows).sum, exactPercentilesOverride)
    run(spark, table.readPruned(spark, env, band), zonesRaw, table.grid,
      table.nodataFor(band), percentilesRaw, exactPercentiles = exact,
      lastWins = lastWins,
      fallbackTiles = Some(e => table.readPruned(spark, e, band)))
  }

  /** Per-FID algebraic stats of `tiles` against `zonesRaw` — the
    * SAVABLE state of a zonal run (columns fid, cnt, nodata, mn, mx,
    * sum, sumsq). Persist the result (e.g. parquet next to the
    * table's manifest version) and feed it back into
    * [[runIncremental]] when the table grows. */
  def fidStatsFor(spark: SparkSession, tiles: DataFrame,
      zonesRaw: Seq[Zone], grid: RasterGrid, nodata: Option[Double],
      simplify: Boolean = true, lastWins: Boolean = false): DataFrame = {
    val zones =
      if (simplify)
        zonesRaw.map(z => z.copy(geom =
          Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
      else zonesRaw
    val bc = spark.sparkContext.broadcast(new ZoneIndex(zones.toArray))
    // the result is lazy (callers save it to parquet), so the zone
    // index broadcast outlives this frame's materialization — parked
    // in the session registry, released at the next drain
    graft.engine.Caches.register(spark, () => bc.destroy())
    ZonalStats.fidStats(ZonalStats.tilePartials(tiles, bc, grid, nodata,
      collectValues = false, lastWins))
  }

  /** Incremental zonal update — the 100 TB growth path: instead of
    * rescanning the whole table after an append, decode ONLY the
    * delta ([[graft.sources.TileTable.readChanges]] between
    * `fromVersion` and the current head), fold its per-FID stats into
    * `prevFidStats` (yesterday's [[fidStatsFor]] output over the
    * same zones at `fromVersion`), and finalize. The per-FID algebra
    * is a commutative monoid, so the result is value-identical to a
    * full recompute at the head — which is exactly what the driver
    * oracle pins (q_zonal_incremental).
    *
    * Percentiles need a sweep over the pixel values (the second
    * [[RadixSelect]] pass targets buckets of the WHOLE table's counts),
    * which saved algebraic stats cannot replace — deliberately not
    * offered here; run the full-table path when quantiles are required.
    *
    * `lastWins` is safe to fold additively: last-burn-wins changes
    * which ZONE a pixel is assigned to, but that assignment is a
    * pure function of (pixel, the full zone list) — rasterization
    * runs per tile against all zones, so appending tiles never
    * changes the assignment of pixels in tiles already folded, and
    * the per-tile partials stay independent (proven ≡ full recompute
    * in TileTableChangesSpec). The one shared caveat: two tiles at
    * the SAME cell both contribute their pixels — in the incremental
    * fold AND in a full recompute alike (per-tile processing) — so
    * duplicate-cell ingest is an upstream dedup concern, not a
    * divergence between the two paths.
    *
    * The unset-FID envelope fallback still consults the WHOLE table
    * (manifest-pruned to the unset slivers): a zone too thin to own a
    * pixel stays correct however many increments have run. */
  /** @param mergedStatsSink when set, receives the merged per-FID
    *   stats (the [[fidStatsFor]] shape at the head version) after
    *   materialization — callers that run incrementally every day
    *   persist them as the NEXT increment's `prevFidStats`
    *   (`ZonalJob`'s sidecar). */
  def runIncremental(spark: SparkSession, table: graft.sources.TileTable,
      zonesRaw: Seq[Zone], prevFidStats: DataFrame, fromVersion: Int,
      lastWins: Boolean = false,
      band: Option[Int] = None,
      mergedStatsSink: Option[DataFrame => Unit] = None): DataFrame = {
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")
    // the window's upper end is the SNAPSHOT's version, not the live
    // head: a concurrent append must not leak rows into a merge whose
    // fallback scan and saved stats describe this snapshot
    val head = table.version
    val bandFilter: DataFrame => DataFrame = df => band match {
      case Some(b) => df.where(org.apache.spark.sql.functions
        .col("band") === b)
      case None => df
    }
    val (addedAll, removedOpt) = graft.sources.TileTable
      .readChangesWithRemovals(spark, table.root, fromVersion, head)
    val delta = bandFilter(addedAll)
    val nodata = table.nodataFor(band)
    val grid = table.grid
    val zones = zonesRaw.map(z => z.copy(geom =
      Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
    import spark.implicits._
    val zonesDf = zones.map(z => (z.fid, Option(z.group)))
      .toDF("fid", "group")
    val deltaStats = fidStatsFor(spark, delta, zonesRaw, grid, nodata,
      simplify = true, lastWins = lastWins)
    // The merge itself is DRIVER-SIDE: per-FID stats are
    // zone-cardinality small (the engine-wide broadcastability
    // assumption; Checkpoints' r3 merge sets the precedent), so the
    // only cluster work an increment pays is the delta decode — the
    // fold, retraction, and downstream rollup run over local frames
    // instead of spending Spark job rounds on LocalTableScans.
    // Spec-pinned value-identical to the Spark-side
    // mergeFidStats/retractFidStats (TileTableChangesSpec).
    val tPhase = System.nanoTime()
    val deltaLocal = ZonalStats.collectFidStats(deltaStats)
    val prevLocal = ZonalStats.collectFidStats(prevFidStats)
    val folded = ZonalStats.mergeFidStatsLocal(prevLocal, deltaLocal)
    // row-level deletes in the window retract: exact subtraction for
    // counts/sums; fids whose extreme might have been the retracted
    // value recompute whole from the live (pruned) table — the
    // recompute set is the zones the takedown actually grazed
    val afterRemovals: Seq[ZonalStats.FidStatRow] = removedOpt match {
      case None => folded
      case Some(removedAll) =>
        val removedLocal = ZonalStats.collectFidStats(
          fidStatsFor(spark, bandFilter(removedAll), zonesRaw, grid,
            nodata, simplify = true, lastWins = lastWins))
        val (safe, unsafeFids) =
          ZonalStats.retractFidStatsLocal(folded, removedLocal)
        if (unsafeFids.isEmpty) safe
        else {
          val env = new org.locationtech.jts.geom.Envelope()
          zones.filter(z => unsafeFids.contains(z.fid))
            .foreach(z =>
              env.expandToInclude(z.geom.getEnvelopeInternal))
          // ALL zones go to the kernel (lastWins burn order must see
          // every zone); only the unsafe fids' rows are kept
          val rec = ZonalStats.collectFidStats(fidStatsFor(spark,
            table.readPruned(spark, env, band), zonesRaw, grid,
            nodata, simplify = true, lastWins = lastWins))
            .filter(r => unsafeFids.contains(r.fid))
          safe ++ rec
        }
    }
    val merged = ZonalStats.fidStatsFrame(spark, afterRemovals)
    mergedStatsSink.foreach(_(merged))
    if (sys.env.get("SPARK_GRAFT_BENCH_PHASES").contains("1"))
      System.err.println(f"PHASES incr_merge=${
        (System.nanoTime() - tPhase) / 1e9}%.3f")
    val tFin = System.nanoTime()
    // Driver-side rollup when the fallback provably contributes
    // nothing (r8): the per-FID stats are already local after the
    // fold, the zone table is dimension-sized, and this path is
    // percentile-free by contract — routing the rollup through Spark
    // cost 3-4 job rounds (~0.3 s) of fixed overhead per increment,
    // the largest slice of the daily-append wall after the delta
    // decode itself. Value/schema equality with the Spark rollup is
    // pinned by GroupStatsLocalSpec; a nonempty fallback keeps the
    // full finishStats path (its scan is a real Spark job anyway).
    val presentFids = afterRemovals.map(_.fid).toSet
    val unset = zones.filter(z => !presentFids.contains(z.fid))
    val fallbackEmpty = unset.isEmpty ||
      table.prunedFiles(Zone.totalEnvelope(unset)).isEmpty
    val res =
      if (fallbackEmpty)
        ZonalStats.groupStatsLocalFrame(spark, afterRemovals,
          zones.map(z => (z.fid, Option(z.group))))
      else finishStats(spark, merged, None, zones, zonesDf, grid,
        nodata, percentiles = Nil,
        tilesFor = e => table.readPruned(spark, e, band),
        histogram = None,
        tilesNonEmpty = Some(e => table.prunedFiles(e).nonEmpty),
        presentFidsKnown = Some(presentFids))
    if (sys.env.get("SPARK_GRAFT_BENCH_PHASES").contains("1"))
      System.err.println(f"PHASES incr_finish=${
        (System.nanoTime() - tFin) / 1e9}%.3f")
    res
  }

  /** @param exactPercentiles true (default) = exact numpy-parity
    *   percentiles (the reference's semantics, runner.py:823-904) by
    *   two-pass [[RadixSelect]]: a second kernel sweep instead of any
    *   value partials. false = Spark's mergeable Greenwald-Khanna
    *   sketch (`percentile_approx`) or, with `histogram`, the
    *   fixed-bin sketch: single sweep over persisted raw values. */
  /** @param lastWins false (default) = pair-join semantics: every
    *   overlapping zone receives the pixel (the reference's
    *   `polygons_might_overlap=True` disjoint-set mode). true =
    *   last-burn-wins: zones rasterized in ONE pass in input order,
    *   later zones overwrite earlier ones where they overlap — the
    *   reference's production job path (`polygons_might_overlap=False`,
    *   runner.py:483-484,960). */
  /** @param fallbackTiles when the caller owns a prunable source
    *   (TileTable), a function producing a scan restricted to an
    *   envelope — the unset-FID fallback pass then reads only the
    *   tiles covering the fallback windows instead of re-scanning
    *   `tiles`. At scale the windows are a sliver-sized subset of the
    *   zones, so this turns an O(table) rescan into an O(windows)
    *   read. */
  def run(spark: SparkSession, tiles: DataFrame, zonesRaw: Seq[Zone],
      grid: RasterGrid, nodata: Option[Double],
      percentilesRaw: Seq[Double] = Nil,
      simplify: Boolean = true,
      exactPercentiles: Boolean = true,
      lastWins: Boolean = false,
      fallbackTiles: Option[org.locationtech.jts.geom.Envelope => DataFrame]
        = None,
      histogram: Option[(Double, Double, Int)] = None,
      fallbackHasTiles: Option[
        org.locationtech.jts.geom.Envelope => Boolean] = None): DataFrame = {
    val percentiles = normalizePercentiles(percentilesRaw)
    val pKeys = percentileKeys(percentiles)
    val collectVals = percentiles.nonEmpty

    // VectorTranslate simplifyTolerance = pixel_width*0.5 (runner.py:349-365)
    val zones =
      if (simplify)
        zonesRaw.map(z => z.copy(geom =
          Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
      else zonesRaw
    val idx = new ZoneIndex(zones.toArray)

    import spark.implicits._
    val zonesDf = zones.map(z => (z.fid, Option(z.group)))
      .toDF("fid", "group")

    // bbox short-circuit (runner.py:409-450): zero stats, no tile IO
    if (!idx.totalEnvelope.intersects(grid.rasterEnvelope)) {
      return zeroStats(zonesDf, pKeys)
    }

    val bc = spark.sparkContext.broadcast(idx)
    // The decode+PIP kernel is the dominant cost: the stats (and the
    // sketches' raw values) need exactly one sweep; exact percentiles
    // take a second, value-filtered sweep instead of any value
    // partials. Per-fid stats are zone-cardinality small — hold THOSE
    // (driver-side for the exact sweeps, cached otherwise) and let
    // every downstream consumer (fallback detection, rollup) read them.
    // Every persist/broadcast is registered for release once the
    // (dimension-sized) result has materialized — a long-lived session
    // must not depend on the ContextCleaner for block-manager hygiene.
    val releases = scala.collection.mutable.ArrayBuffer.empty[() => Unit]
    releases += (() => bc.destroy())
    val tilesFor = fallbackTiles.getOrElse(
      (_: org.locationtech.jts.geom.Envelope) => tiles)
    if (collectVals && exactPercentiles) {
      // one job per sweep, folded per task; pass 1 carries the stats
      def sweep(values: Values): Seq[FidPartial] =
        ZonalStats.mergeFolded(ZonalStats.foldTiles(tiles,
          ZonalStats.fidKernel(bc, grid, nodata, lastWins, values))
          .iterator.flatMap(_._2)).map(_._2).sortBy(_.fid)
      val pass1 = sweep(Values.Coarse)
      val mainFidStats = ZonalStats.fidStatsFrame(spark, pass1.map(p =>
        ZonalStats.FidStatRow(p.fid, p.cnt, p.nodata, p.mn, p.mx, p.sum,
          p.sumsq)))
      return finishStats(spark, mainFidStats,
        Some(ExactPasses(pass1.map(p => p.fid -> p.hist),
          fine => sweep(fine).map(p => p.fid -> p.hist))),
        zones, zonesDf, grid, nodata, percentiles, tilesFor, histogram,
        releases.toSeq, tilesNonEmpty = fallbackHasTiles)
    }
    val partials0 = ZonalStats.tilePartials(tiles, bc, grid, nodata,
      collectVals, lastWins)
    // raw partials are cached only when a sketch needs their value
    // chunks a second time
    val partials =
      if (collectVals) {
        val p = partials0.persist(StorageLevel.MEMORY_AND_DISK)
        releases += (() => { p.unpersist(false); () })
        p
      } else partials0
    val mainFidStats = ZonalStats.fidStats(partials)
      .persist(StorageLevel.MEMORY_AND_DISK)
    releases += (() => { mainFidStats.unpersist(false); () })
    mainFidStats.count() // materialize: one kernel pass fills the cache

    val mainChunks =
      if (!collectVals) None
      else Some(RawChunks(partials.select($"fid", $"vals")
        .where(size($"vals") > 0)))
    finishStats(spark, mainFidStats, mainChunks, zones, zonesDf, grid,
      nodata, percentiles, tilesFor, histogram,
      releases.toSeq, tilesNonEmpty = fallbackHasTiles)
  }

  /** The main kernel's share of the group percentiles, for
    * [[finishStats]]. */
  private[graft] sealed trait MainValues
  /** Raw (fid, vals) chunks, for the sketches (GK or, with a
    * `histogram`, fixed-bin). */
  private[graft] final case class RawChunks(df: DataFrame)
      extends MainValues
  /** Exact percentiles: the main kernel's pass-1 histograms per fid,
    * and its pass 2 for given target buckets. */
  private[graft] final case class ExactPasses(coarse: Seq[(Long, Hist)],
      fine: Values.Fine => Seq[(Long, Hist)]) extends MainValues

  /** The tail of the zonal pipeline, shared by the direct path above
    * and the checkpointed path ([[graft.engine.Checkpoints]]): given
    * merged per-FID stats (and the main kernel's percentile inputs)
    * from the kernel stage, run the unset-FID envelope fallback, the
    * group rollup + percentiles, finalize, and order the output
    * columns. Exact percentiles select per group on the driver
    * between the two passes ([[RadixSelect.groupPercentiles]]); the
    * fallback windows run both passes too.
    *
    * @param zones   the SIMPLIFIED zone set the kernel ran against
    * @param tilesFor envelope-pruned tile scan for the fallback pass
    * @param releases caller-cached intermediates (persists/broadcasts)
    *   backing `mainFidStats`/`mainChunks`; released synchronously once
    *   the final (dimension-sized) result has materialized
    */
  /** @param presentFidsKnown callers that already hold the per-FID
    *   stats driver-side (the incremental path's local fold) pass the
    *   fid set and skip the collect job — the per-increment finish
    *   tail is fixed overhead the growth-path ratio pays every day. */
  private[graft] def finishStats(spark: SparkSession,
      mainFidStats: DataFrame, mainValues: Option[MainValues],
      zones: Seq[Zone], zonesDf: DataFrame, grid: RasterGrid,
      nodata: Option[Double], percentiles: Seq[Double],
      tilesFor: org.locationtech.jts.geom.Envelope => DataFrame,
      histogram: Option[(Double, Double, Int)],
      releases: Seq[() => Unit] = Nil,
      tilesNonEmpty: Option[
        org.locationtech.jts.geom.Envelope => Boolean] = None,
      presentFidsKnown: Option[Set[Long]] = None): DataFrame = {
    import spark.implicits._
    val pKeys = percentileKeys(percentiles)
    val pending = scala.collection.mutable.ArrayBuffer(releases: _*)

    // The rollup output is group-cardinality (dimension-sized — the
    // same broadcastability assumption the whole engine makes), so
    // materialize it NOW and synchronously drop every cached
    // intermediate + broadcast this run pinned. Returning a lazy plan
    // here would leave block-manager entries alive until the
    // ContextCleaner happens to fire (under ParallelGC + a big heap:
    // possibly never), which accumulates across reps in a long-lived
    // session. The local result is also broadcast-friendly downstream.
    // Every Spark job below (fallback sweeps, percentile pass 2, the
    // rollup collect) runs inside the try: a failed job (task failure,
    // OOM) must not strand the persists/broadcasts in the block
    // manager — that is exactly the accumulation this path exists to
    // prevent
    val (schema, rows) = try {
      // ---- unset-FID envelope fallback (runner.py:697-811) ----
      val tPh0 = System.nanoTime()
      val presentFids = presentFidsKnown.getOrElse(
        mainFidStats.select("fid").as[Long].collect().toSet)
      val unset = zones.filter(z => !presentFids.contains(z.fid))
      val tPh1 = System.nanoTime()
      val fallback =
        if (unset.isEmpty) None
        // manifest-prune short-circuit: when the caller can prove (from
        // the driver-side file index, ~ms) that NO table file
        // intersects the unset zones' envelope, the fallback scan would
        // read zero tiles and produce zero partials — identical to the
        // zero-stat fill groupStats applies downstream. Skipping the
        // Spark jobs matters on the incremental path, where this
        // consult is fixed per-increment overhead.
        else if (tilesNonEmpty.exists(f => !f(Zone.totalEnvelope(unset))))
          None
        else Fallback(spark, tilesFor(Zone.totalEnvelope(unset)), unset,
          grid, nodata)
      fallback.foreach(f => pending += (() => f.close()))
      // the fallback's first sweep gathers what the main kernel's first
      // sweep gathered
      val fbParts = fallback.map(_.sweep(mainValues match {
        case Some(_: RawChunks) => Values.Raw
        case Some(_: ExactPasses) => Values.Coarse
        case None => Values.Off
      })).getOrElse(Nil)
      val tPh2 = System.nanoTime()
      if (sys.env.get("SPARK_GRAFT_BENCH_PHASES").contains("1"))
        System.err.println(f"PHASES finish_present=${(tPh1 - tPh0) / 1e9}%.3f" +
          f" finish_fallback=${(tPh2 - tPh1) / 1e9}%.3f unset=${unset.size}")

      val fidStatsAll =
        if (fallback.isEmpty) mainFidStats
        else mainFidStats.unionByName(
          ZonalStats.fidStatsFrame(spark, Fallback.stats(fbParts)))
      val fbValues = Fallback.values(fbParts)

      val g = mainValues match {
        case None => ZonalStats.rollup(fidStatsAll, zonesDf, None)
        case Some(RawChunks(mc)) =>
          val fc = fbValues.filter(_.vals.nonEmpty)
          val all =
            if (fc.isEmpty) mc
            else mc.unionByName(fc.map(p => (p.fid, p.vals))
              .toDF("fid", "vals"))
          val withGroup = broadcast(zonesDf)
            .join(all, Seq("fid")).select("group", "vals")
          ZonalStats.groupStats(fidStatsAll, zonesDf,
            Some((withGroup, percentiles.toArray)),
            exactPercentiles = false, histogram)
        case Some(ExactPasses(coarse, fine)) =>
          val groupsOf = zones.groupMap(_.fid)(_.group)
          val pcts = RadixSelect.groupPercentiles[Long, String](
            coarse ++ fbValues.map(p => p.fid -> p.hist),
            fid => groupsOf.getOrElse(fid, Nil), percentiles.toArray,
            targets => {
              val bcT = spark.sparkContext.broadcast(targets)
              try {
                val mode = Values.Fine(bcT)
                fine(mode) ++ fallback.toSeq.flatMap(f =>
                  Fallback.values(f.sweep(mode)).map(p => p.fid -> p.hist))
              } finally bcT.destroy()
            })
          ZonalStats.rollup(fidStatsAll, zonesDf,
            Some(ZonalStats.percentileFrame(spark, pcts)))
      }

      // expand percentile array into pK columns; order columns
      val withP =
        if (pKeys.isEmpty) g
        else pKeys.zipWithIndex.foldLeft(g) { case (df, (k, i)) =>
          df.withColumn(k, element_at(col("pcts"), i + 1))
        }.drop("pcts")
      val ordered = withP.select("group", statFields(pKeys): _*)
      (ordered.schema, ordered.collect())
    } finally pending.foreach { r =>
      try r() catch { case scala.util.control.NonFatal(_) => () }
    }
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Zero-stats frame for the no-intersection path (runner.py:424-450). */
  private def zeroStats(zonesDf: DataFrame, pKeys: Seq[String]): DataFrame = {
    var df = zonesDf.select("group").distinct()
      .withColumn("min", lit(null).cast("double"))
      .withColumn("max", lit(null).cast("double"))
      .withColumn("count", lit(0L))
      .withColumn("nodata_count", lit(0L))
      .withColumn("valid_count", lit(0L))
      .withColumn("sum", lit(0.0))
      .withColumn("stdev", lit(null).cast("double"))
    pKeys.foreach(k => df = df.withColumn(k, lit(null).cast("double")))
    df.select("group", statFields(pKeys): _*)
  }

  /** Envelope-window fallback for zones that captured no pixel:
    * per PART of each multi-geometry, stats over the WHOLE clamped
    * envelope window (no PIP — a reference quirk), scalars overwritten
    * so the LAST nonempty part wins; percentile values accumulate
    * across parts (runner.py:700-811). Each [[sweep]] is one Spark job
    * folding the per-(fid, part) partials inside its tasks; [[close]]
    * releases the windows broadcast.
    */
  private final class Fallback(tiles: DataFrame, grid: RasterGrid,
      nodata: Option[Double],
      bcWin: org.apache.spark.broadcast.Broadcast[(Array[(Long, Int,
        PixelWindow)], org.locationtech.jts.index.strtree.STRtree)]) {
    def sweep(values: Values): Seq[((Long, Int), FidPartial)] = {
      val (gridB, nodataB, bcB) = (grid, nodata, bcWin)
      ZonalStats.mergeFolded(ZonalStats.foldTiles(tiles,
        (id, bytes, fmt) => {
          val (ws, t) = bcB.value
          fallbackTileKernel(id, bytes, fmt, gridB, ws, t, nodataB, values)
        }).iterator.flatMap(_._2))
    }
    def close(): Unit = bcWin.destroy()
  }

  private object Fallback {
    /** None when no unset zone's window intersects the raster. */
    def apply(spark: SparkSession, tiles: DataFrame, unset: Seq[Zone],
        grid: RasterGrid, nodata: Option[Double]): Option[Fallback] = {
      val windows: Array[(Long, Int, PixelWindow)] = (for {
        z <- unset.iterator
        part <- 0 until z.geom.getNumGeometries
        env = z.geom.getGeometryN(part).getEnvelopeInternal
        win = WindowMath.envelopeToWindow(env.getMinX, env.getMaxX,
          env.getMinY, env.getMaxY, grid.gt, grid.widthPx, grid.heightPx)
        if !win.isEmpty
      } yield (z.fid, part, win)).toArray
      if (windows.isEmpty) return None

      // STRtree over the window pixel rects: the kernel probes the
      // tile's pixel range instead of scanning every window linearly —
      // fallback cost becomes O(tiles_touched × log windows), not
      // O(tiles × windows)
      val tree = new org.locationtech.jts.index.strtree.STRtree()
      windows.zipWithIndex.foreach { case ((_, _, w), i) =>
        tree.insert(new org.locationtech.jts.geom.Envelope(
          w.xoff.toDouble, (w.xoff + w.wx).toDouble,
          w.yoff.toDouble, (w.yoff + w.wy).toDouble), Int.box(i))
      }
      tree.build() // immutable + thread-safe for queries after build
      Some(new Fallback(tiles, grid, nodata,
        spark.sparkContext.broadcast((windows, tree))))
    }

    /** Per-fid scalars: the LAST nonempty part wins (runner.py:783-806
      * uses `=`, not `+=`); an all-nodata part zeroes the sums
      * (runner.py:790-794). */
    def stats(parts: Seq[((Long, Int), FidPartial)])
        : Seq[ZonalStats.FidStatRow] =
      parts.groupBy(_._1._1).toSeq.map { case (fid, ps) =>
        val last = ps.maxBy(_._1._2)._2
        if (last.cnt - last.nodata == 0)
          ZonalStats.FidStatRow(fid, last.cnt, last.nodata, 0.0, 0.0, 0.0,
            0.0)
        else ZonalStats.FidStatRow(fid, last.cnt, last.nodata, last.mn,
          last.mx, last.sum, last.sumsq)
      }

    /** Per-fid values (raw or histograms), accumulated across parts. */
    def values(parts: Seq[((Long, Int), FidPartial)]): Seq[FidPartial] =
      ZonalStats.mergeFolded(parts.sortBy(_._1)
        .map { case ((fid, _), p) => fid -> p }).map(_._2)
  }

  /** Per-tile kernel of the fallback pass: every pixel of the tile
    * that falls in a (fid, part) window contributes — no PIP. Windows
    * are probed through the broadcast STRtree keyed on pixel rects.
    * Partials are keyed by (fid, part). */
  def fallbackTileKernel(imageId: String, bytes: Array[Byte], fmt: String,
      grid: RasterGrid, windows: Array[(Long, Int, PixelWindow)],
      tree: org.locationtech.jts.index.strtree.STRtree,
      nodata: Option[Double],
      values: Values): Iterator[((Long, Int), FidPartial)] = {
    val (tr, tc) = ZonalStats.parseTileId(imageId)
    val col0 = tc * grid.tileW; val row0 = tr * grid.tileH
    val col1 = col0 + grid.tileW - 1; val row1 = row0 + grid.tileH - 1
    var px: Array[Float] = null
    val out = scala.collection.mutable.ArrayBuffer
      .empty[((Long, Int), FidPartial)]
    // loop-invariant nodata predicate (same isclose formula — see
    // ZonalStats.processTile)
    val ndDef = nodata.isDefined
    val ndVal = if (ndDef) nodata.get else 0.0
    val ndTol = 1e-8 + 1e-5 * math.abs(ndVal)
    val vals = if (values eq Values.Off) null else new FloatBuf(16)

    val cands = tree.query(new org.locationtech.jts.geom.Envelope(
      col0.toDouble, (col1 + 1).toDouble,
      row0.toDouble, (row1 + 1).toDouble))
    var ci = 0
    while (ci < cands.size()) {
      val wi = cands.get(ci).asInstanceOf[Integer].intValue()
      val (fid, part, win) = windows(wi)
      val gc0 = math.max(col0, win.xoff)
      val gc1 = math.min(col1, win.xoff + win.wx - 1)
      val gr0 = math.max(row0, win.yoff)
      val gr1 = math.min(row1, win.yoff + win.wy - 1)
      if (gc0 <= gc1 && gr0 <= gr1) {
        if (px == null) px = ImageCodec.decodeTL(bytes, fmt)
        var cnt = 0L; var nd = 0L
        var mn = Double.PositiveInfinity; var mx = Double.NegativeInfinity
        var sum = 0.0; var sumsq = 0.0
        if (vals != null) vals.clear()
        var gr = gr0
        while (gr <= gr1) {
          val rowBase = (gr - row0) * grid.tileW - col0
          var gc = gc0
          while (gc <= gc1) {
            val v = px(rowBase + gc)
            cnt += 1
            val isNd = ndDef && math.abs(v.toDouble - ndVal) <= ndTol
            if (isNd) nd += 1
            else {
              val vd = v.toDouble
              if (vd < mn) mn = vd
              if (vd > mx) mx = vd
              sum += vd
              sumsq += (v * v).toDouble
              if (vals != null) vals.add(v)
            }
            gc += 1
          }
          gr += 1
        }
        val (raw, hist) = values.summarize(vals, fid)
        out += ((fid, part) -> FidPartial(fid, cnt, nd, mn, mx, sum, sumsq,
          raw, hist))
      }
      ci += 1
    }
    out.iterator
  }
}
