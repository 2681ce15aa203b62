package graft.engine

import com.fasterxml.jackson.databind.ObjectMapper
import graft.functions.XXHash64
import graft.geom.{Zone, ZoneIndex}
import graft.operators.{FidPartial, Hist, Values, ZonalEngine, ZonalStats}
import graft.sources.{TileFileStat, TileManifest, TileTable}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

/** Chunked, resumable zonal-stats execution — the engine's answer to
  * the reference's TaskGraph memoization (`/root/reference/
  * runner.py:1093-1098`) and the north rule's "resumable from
  * checkpoint with per-partition lineage + metrics".
  *
  * A chunk is a CONTIGUOUS GROUP of the tile table's cell-sorted
  * manifest files (not one file): with a 10^5–10^6-file manifest, one
  * Spark job per file would serialize the cluster behind driver
  * round-trips, so files are grouped into at most `maxChunks` jobs,
  * each wide enough to saturate cluster parallelism while keeping
  * checkpoint granularity. Each chunk writes its per-FID partial stats
  * (and, for exact percentiles, their [[graft.operators.RadixSelect]]
  * bucket counts) to `<ckptDir>/chunk=<i>/stats.json`; the second
  * percentile pass writes `<ckptDir>/pass2/chunk=<i>/stats.json`. Each
  * chunk directory also holds a `lineage.json` recording
  * the chunk's file list, input fingerprint, per-partition row/pixel
  * counts and wall time. A restarted run skips every chunk whose
  * lineage exists AND whose fingerprint matches the current inputs
  * (zone set, file stats, flags) — a stale or foreign checkpoint dir
  * is recomputed instead of silently merged. The final merge is a pure
  * reduction over chunk outputs in a fixed order, so interrupted runs
  * resume to byte-identical results. The kernel (decode + scanline
  * assign) runs exactly once per chunk and pass — see
  * [[chunkedFidStats]] for the one-job-per-chunk layout.
  */
object Checkpoints {
  private val mapper = new ObjectMapper()
  // Hadoop conf for fingerprint stats: prefer the Spark session's
  // (it carries spark.hadoop.* — s3a credentials/endpoints, kerberos —
  // without which remote getFileStatus fails and the size guard would
  // silently degrade); the bare-Configuration fallback is cached
  // because constructing one re-parses the default XMLs (tens of ms)
  private lazy val fallbackHadoopConf =
    new org.apache.hadoop.conf.Configuration()
  private def hadoopConf: org.apache.hadoop.conf.Configuration =
    org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(fallbackHadoopConf)

  /** Default chunk-count cap — shared with verification code that
    * re-derives chunk indices (keep in sync by REFERENCE, not copy). */
  val DefaultMaxChunks = 64

  def chunkDir(ckptDir: String, i: Int): String = f"$ckptDir/chunk=$i%05d"

  /** Checkpoint root of the second exact-percentile pass; its chunks
    * are `chunkDir(pass2Dir(ckptDir), i)`. */
  def pass2Dir(ckptDir: String): String = s"$ckptDir/pass2"

  /** Chunk-output format, mixed into [[contextDigest]]: a checkpoint
    * dir written by an older format (format 1 persisted raw `partials`
    * parquet with pixel values) never matches and is recomputed. */
  val Format = 2

  /** Group the manifest's cell-sorted files into at most `maxChunks`
    * contiguous chunks (spatially coherent because files are
    * cell-range sorted). */
  def chunkFiles(files: Seq[TileFileStat],
      maxChunks: Int): Seq[Seq[TileFileStat]] = {
    val n = math.min(math.max(1, maxChunks), math.max(1, files.size))
    if (files.isEmpty) Seq.empty
    else {
      val per = math.ceil(files.size.toDouble / n).toInt
      files.grouped(per).toSeq
    }
  }

  /** Digest of the CHUNK-INVARIANT inputs: the simplified zone set
    * (fid, group, geometry WKB), the table's grid geo-referencing,
    * nodata, SRS and band metadata, the collectValues flag and the
    * chunk-output `format` (format 1 = the legacy digest).
    * Computed once per run (the zone hash is O(zones) — doing it per
    * chunk would rebuild a multi-MB buffer chunks× times on the
    * driver); per-chunk fingerprints mix in only the file stats.
    * File pixel CONTENT is represented by the per-file
    * (path, cellMin, cellMax, rows, byteSize) stats — see
    * [[fingerprint]]; a regenerated file virtually always changes its
    * compressed size, so in-place rewrites invalidate checkpoints
    * (byte-identical regeneration is the one remaining blind spot —
    * and is also harmless). */
  def contextDigest(zones: Seq[Zone], manifest: TileManifest,
      collectValues: Boolean, format: Int = Format): String = {
    val sb = new StringBuilder
    zones.foreach { z =>
      sb.append(z.fid).append('|').append(z.group).append('|')
        .append(XXHash64.hash(Zone.toWkb(z.geom))).append('\n')
    }
    sb.append(manifest.grid.toString).append('\n')
    sb.append(manifest.nodata).append('|')
      .append(manifest.srs).append('|')
      .append(manifest.bands.map(b => s"${b.band}:${b.nodata}")
        .mkString(",")).append('|')
    sb.append(collectValues)
    // row-level deletes change a chunk's LIVE rows without changing
    // its file list — memoized chunk stats must not survive them
    if (manifest.deletes.nonEmpty)
      sb.append('|').append(manifest.deletes
        .map(d => s"${d.path}:${d.nKeys}").mkString(","))
    if (format > 1) sb.append("|format=").append(format)
    f"${XXHash64.hashString(sb.toString, 42L)}%016x"
  }

  /** Per-chunk fingerprint: context digest + this chunk's file stats,
    * including each file's on-disk byte size (regenerating a table in
    * place with identical cell stats but different content then
    * invalidates the checkpoint instead of silently reusing it).
    * Recorded in lineage.json; resume recomputes on mismatch. */
  def fingerprint(ctx: String, files: Seq[TileFileStat],
      root: String): String = {
    // Hadoop FileSystem stat, so the byte-size guard works for any
    // root the table can live on (local, hdfs://, s3a://), not just
    // java.nio-visible paths
    val sb = new StringBuilder(ctx)
    files.foreach { f =>
      val size =
        try {
          val p = new org.apache.hadoop.fs.Path(s"$root/${f.path}")
          p.getFileSystem(hadoopConf).getFileStatus(p).getLen
        } catch { case _: Exception => -1L }
      sb.append(f.path).append('|').append(f.cellMin).append('|')
        .append(f.cellMax).append('|').append(f.rows).append('|')
        .append(size).append('\n')
    }
    f"${XXHash64.hashString(sb.toString, 42L)}%016x"
  }

  /** Existence-only check (lineage written atomically last). */
  def isChunkDone(ckptDir: String, i: Int): Boolean =
    Files.exists(Paths.get(chunkDir(ckptDir, i), "lineage.json"))

  /** Resume-safe check: lineage exists AND was produced from the same
    * inputs. */
  def isChunkDone(ckptDir: String, i: Int, expectedFp: String): Boolean =
    lineageField(ckptDir, i, "fingerprint").contains(expectedFp)

  /** Run the per-FID partial-stats stage chunk by chunk with
    * checkpointing; returns the merged fid-level stats DataFrame
    * (same shape as ZonalStats.fidStats), the pass-1 coarse
    * histograms per fid when `collectValues` (the first
    * [[graft.operators.RadixSelect]] pass of exact percentiles), and
    * the number of chunks actually (re)computed this run.
    *
    * Chunk outputs are PRE-AGGREGATED per FID: ONE Spark job per
    * chunk folds the kernel's partials per FID inside each task (no
    * shuffle), the driver merges the tasks' results in partition
    * order and writes an atomic `stats.json` — no cache, no second
    * pass over the kernel output, no per-chunk parquet commit
    * protocol, and no pixel values on disk — so resumability costs
    * only the chunking itself and the path tracks the direct run's
    * wall clock. Histograms add O(zones × buckets) per chunk. Merge
    * order is fixed (partition, fid, chunk), so resumed and fresh
    * runs are float64-bit-identical. Driver memory for the merge is
    * O(chunks × zones) — bounded by the same zones-are-broadcastable
    * assumption the whole engine (and the reference) makes.
    *
    * @param filesOverride restrict the run to these manifest files
    *   (e.g. [[graft.sources.TileTable.prunedFiles]] of the zones'
    *   envelope) instead of the full table.
    * @param band for multi-band tables: the single band this run
    *   addresses (reference rasters are `(path, band)`,
    *   runner.py:264-265) — the chunk scan filters it and the band's
    *   own nodata applies; REQUIRED when the table is multi-band, or
    *   the scan would mix every band's rows. */
  def chunkedFidStats(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      collectValues: Boolean = false,
      maxChunks: Int = DefaultMaxChunks,
      lastWins: Boolean = false,
      filesOverride: Option[Seq[TileFileStat]] = None,
      band: Option[Int] = None)
      : (DataFrame, Option[Map[Long, Hist]], Int) = {
    val run = new ChunkedRun(spark, table, zones, ckptDir, runId,
      collectValues, maxChunks, lastWins, filesOverride, band)
    try {
      val (merged, computed) = run.pass1()
      (fidStatsFrame(spark, merged),
        if (collectValues) Some(merged.map(p => p.fid -> p.hist).toMap)
        else None,
        computed)
    } finally run.close()
  }

  private def fidStatsFrame(spark: SparkSession,
      ps: Seq[FidPartial]): DataFrame =
    ZonalStats.fidStatsFrame(spark, ps.map(p => ZonalStats.FidStatRow(
      p.fid, p.cnt, p.nodata, p.mn, p.mx, p.sum, p.sumsq)))

  /** The chunked kernel passes of one resumable run: the zone index
    * broadcast, the chunk list and the context digest are shared by
    * pass 1 (stats, plus bucket counts for exact percentiles) and the
    * exact-percentile pass 2; [[close]] releases the broadcast. */
  private final class ChunkedRun(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      collectValues: Boolean, maxChunks: Int, lastWins: Boolean,
      filesOverride: Option[Seq[TileFileStat]], band: Option[Int]) {
    require(table.manifest.bands.isEmpty || band.isDefined,
      s"${table.root} is multi-band: pass the band to address")
    private val bc = spark.sparkContext.broadcast(
      new ZoneIndex(zones.toArray))
    private val grid = table.grid
    private val nodata = table.nodataFor(band)
    private val chunks = chunkFiles(
      filesOverride.getOrElse(table.manifest.files), maxChunks)
    private val ctx = contextDigest(zones, table.manifest, collectValues) +
      (if (lastWins) "|lastWins" else "") +
      band.map(b => s"|band=$b").getOrElse("")

    def pass1(): (Seq[FidPartial], Int) =
      pass(ckptDir, ctx,
        if (collectValues) Values.Coarse else Values.Off)

    /** Pass 2 of exact percentiles: its fingerprint covers the target
      * buckets, so a pass-2 chunk is reused only for the same targets. */
    def pass2(fine: Values.Fine): Seq[(Long, Hist)] = {
      val t = new StringBuilder
      fine.targets.value.toSeq.sortBy(_._1).foreach { case (fid, bs) =>
        t.append(fid).append(':').append(bs.mkString(",")).append('|')
      }
      val digest = f"${XXHash64.hashString(t.toString, 42L)}%016x"
      pass(pass2Dir(ckptDir), s"$ctx|pass2=$digest", fine)._1
        .map(p => p.fid -> p.hist)
    }

    def close(): Unit = bc.destroy()

    /** Run the chunks of one pass whose checkpoint is missing or stale,
      * then merge every chunk's output in chunk order. */
    private def pass(root: String, passCtx: String,
        values: Values): (Seq[FidPartial], Int) = {
      val computed = new java.util.concurrent.atomic.AtomicInteger(0)
      val kernel = ZonalStats.fidKernel(bc, grid, nodata, lastWins, values)

      def runChunk(files: Seq[TileFileStat], i: Int): Unit = {
        val fp = fingerprint(passCtx, files, table.root)
        if (!isChunkDone(root, i, fp)) {
          val t0 = System.nanoTime()
          val dir = chunkDir(root, i)
          // a stale chunk dir (other inputs, older format) is cleared,
          // never merged
          deleteRecursively(Paths.get(dir))
          // tombstones apply per raw file-group scan — the chunked path
          // bypasses table.read(), so it must fold the deletes itself;
          // scanRaw also pins the TABLE schema (evolution defaults, no
          // per-file footer inference)
          val raw = table.applyDeletes(spark,
            table.scanRaw(spark, files.map(_.path)))
          val tiles = band.map(b => raw.where(col("band") === b))
            .getOrElse(raw)
          val parts = ZonalStats.foldTiles(tiles, kernel)
          val merged = ZonalStats.mergeFolded(parts.iterator.flatMap(_._2))
            .map(_._2)
          writeChunkStats(dir, merged.sortBy(_.fid))
          writeLineage(dir, i, files, fp, runId,
            (System.nanoTime() - t0) / 1e6,
            parts.zipWithIndex.map { case ((rows, ps), part) =>
              (part, rows, ps.map(_._2.cnt).sum)
            })
          computed.incrementAndGet()
        }
      }

      // Chunks are independent Spark jobs; submitting them from a
      // bounded pool keeps several in flight so per-job fixed costs
      // (scheduling, result collection) overlap with other chunks'
      // compute instead of serializing the cluster behind the driver
      // loop.
      val concurrency = math.min(math.max(1, chunks.size), math.max(1,
        sys.env.getOrElse("GRAFT_CKPT_CONCURRENCY", "12").toInt))
      val pool = java.util.concurrent.Executors
        .newFixedThreadPool(concurrency)
      val progress = Progress.attach(spark, s"$ckptDir/progress.jsonl")
      try {
        val futures = chunks.zipWithIndex.map { case (files, i) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = runChunk(files, i)
          })
        }
        futures.foreach(_.get()) // propagate the first failure
      } finally {
        pool.shutdownNow()
        Progress.detach(spark, progress)
      }
      // cross-chunk merge: a driver-side fold over the chunk stats
      // files in chunk order — deterministic float64 order, no Spark
      // job at all
      val merged = ZonalStats.mergeFolded(chunks.indices.iterator.flatMap(
        i => readChunkStats(chunkDir(root, i)).map(p => p.fid -> p)))
      (merged.map(_._2).sortBy(_.fid), computed.get())
    }
  }

  /** Chunk stats sidecar (stats.json, written atomically BEFORE
    * lineage.json): doubles stored as raw IEEE-754 bits so ±Infinity
    * sentinels and exact values survive the JSON round-trip; a
    * non-empty histogram as parallel `keys`/`counts` arrays. */
  private def writeChunkStats(dir: String, stats: Seq[FidPartial]): Unit = {
    val o = mapper.createArrayNode()
    stats.foreach { s =>
      val n = o.addObject()
      n.put("fid", s.fid); n.put("cnt", s.cnt); n.put("nodata", s.nodata)
      n.put("mn", java.lang.Double.doubleToRawLongBits(s.mn))
      n.put("mx", java.lang.Double.doubleToRawLongBits(s.mx))
      n.put("sum", java.lang.Double.doubleToRawLongBits(s.sum))
      n.put("sumsq", java.lang.Double.doubleToRawLongBits(s.sumsq))
      if (!s.hist.isEmpty) {
        val ks = n.putArray("keys"); s.hist.keys.foreach(k => ks.add(k))
        val cs = n.putArray("counts"); s.hist.counts.foreach(c => cs.add(c))
      }
    }
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".stats.json.tmp")
    Files.writeString(tmp, mapper.writeValueAsString(o))
    Files.move(tmp, Paths.get(dir, "stats.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def readChunkStats(dir: String): Seq[FidPartial] = {
    val p = Paths.get(dir, "stats.json")
    val arr = mapper.readTree(Files.readString(p))
    val out = scala.collection.mutable.ArrayBuffer.empty[FidPartial]
    arr.forEach { n =>
      val hist = Option(n.get("keys")).fold(Hist.Empty) { ks =>
        val cs = n.get("counts")
        Hist(Array.tabulate(ks.size)(ks.get(_).asInt()),
          Array.tabulate(cs.size)(cs.get(_).asLong()))
      }
      out += FidPartial(n.get("fid").asLong(), n.get("cnt").asLong(),
        n.get("nodata").asLong(),
        java.lang.Double.longBitsToDouble(n.get("mn").asLong()),
        java.lang.Double.longBitsToDouble(n.get("mx").asLong()),
        java.lang.Double.longBitsToDouble(n.get("sum").asLong()),
        java.lang.Double.longBitsToDouble(n.get("sumsq").asLong()),
        Array.emptyFloatArray, hist)
    }
    out.toSeq
  }

  /** Full resumable zonal run: chunked partials → merge → the shared
    * engine tail (fallback pass, rollup, exact percentiles,
    * zero-fill) — output-identical to [[ZonalEngine.run]] on the same
    * inputs, including `lastWins` (the INI job path's semantics) and
    * exact percentiles. Percentiles run both
    * [[graft.operators.RadixSelect]] passes chunked and checkpointed:
    * pass 1 with the stats, pass 2 under `pass2Dir(ckptDir)`.
    *
    * @param keepCheckpoints false = the reference's
    *   `clean_working_dir=True` (`runner.py:921-923`): materialize the
    *   result, then delete the checkpoint dir.
    * @param fidStatsSink when set, receives the merged per-FID stats
    *   frame before the engine tail — the INI job path persists them
    *   (with the table version) so its NEXT run can fold only the CDC
    *   delta ([[ZonalJob.singleRaster]]) instead of rescanning.
    */
  def resumableZonalStats(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      percentiles: Seq[Double] = Nil,
      lastWins: Boolean = false,
      maxChunks: Int = DefaultMaxChunks,
      keepCheckpoints: Boolean = true,
      band: Option[Int] = None,
      fidStatsSink: Option[DataFrame => Unit] = None): DataFrame = {
    import spark.implicits._
    val percs = ZonalEngine.normalizePercentiles(percentiles)
    val zonesSimpl = zones.map(z =>
      z.copy(geom = Zone.simplifyHalfPixel(z.geom, table.grid.gt.px)))
    // prune the chunk list to the zones' envelope — a job over a
    // region touches only that region's files, like the direct path
    val env = Zone.totalEnvelope(zonesSimpl)
    val run = new ChunkedRun(spark, table, zonesSimpl, ckptDir, runId,
      collectValues = percs.nonEmpty, maxChunks, lastWins,
      Some(table.prunedFiles(env)), band)
    val res = try {
      val (pass1, _) = run.pass1()
      val fidStats = fidStatsFrame(spark, pass1)
      val zonesDf = zonesSimpl.map(z => (z.fid, Option(z.group)))
        .toDF("fid", "group")
      fidStatsSink.foreach(_(fidStats))
      ZonalEngine.finishStats(spark, fidStats,
        if (percs.isEmpty) None
        else Some(ZonalEngine.ExactPasses(
          pass1.map(p => p.fid -> p.hist), run.pass2)),
        zonesSimpl, zonesDf, table.grid, table.nodataFor(band), percs,
        e => table.readPruned(spark, e, band), histogram = None,
        tilesNonEmpty = Some(e => table.prunedFiles(e).nonEmpty))
    } finally run.close()
    if (keepCheckpoints) res
    else {
      // finishStats returns a MATERIALIZED local frame, so the scratch
      // dir is no longer referenced by any pending computation
      deleteRecursively(Paths.get(ckptDir))
      res
    }
  }

  /** Persist a per-FID stats frame (the `fidStats` shape) + the table
    * version it describes as an atomic JSON sidecar — doubles as raw
    * IEEE-754 bits, so ±Infinity sentinels and exact values survive
    * (the chunk-stats convention). Dimension-sized by the engine's
    * zones-are-broadcastable assumption, hence driver-side. */
  def writeFidStatsSidecar(path: String, fidStats: org.apache.spark.sql
      .DataFrame, version: Int, manifestFp: String = ""): Unit = {
    val o = mapper.createObjectNode()
    o.put("version", version)
    // identity of the manifest version the stats describe — a table
    // recreated at the same path restarts version numbers, and
    // folding a NEW table's CDC window into an OLD table's stats
    // must fail closed (readers compare this against the live chain)
    o.put("manifest_fp", manifestFp)
    val arr = o.putArray("fids")
    fidStats.select("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq")
      .collect().sortBy(_.getLong(0)).foreach { r =>
        val n = arr.addObject()
        n.put("fid", r.getLong(0)); n.put("cnt", r.getLong(1))
        n.put("nodata", r.getLong(2))
        n.put("mn", java.lang.Double.doubleToRawLongBits(r.getDouble(3)))
        n.put("mx", java.lang.Double.doubleToRawLongBits(r.getDouble(4)))
        n.put("sum", java.lang.Double.doubleToRawLongBits(r.getDouble(5)))
        n.put("sumsq",
          java.lang.Double.doubleToRawLongBits(r.getDouble(6)))
      }
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    val tmp = Paths.get(path + ".tmp")
    Files.writeString(tmp, mapper.writeValueAsString(o))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  /** Reload a [[writeFidStatsSidecar]] file → (stats frame, table
    * version, manifest fingerprint at write time); None when
    * absent/unreadable. */
  def readFidStatsSidecar(spark: SparkSession, path: String)
      : Option[(org.apache.spark.sql.DataFrame, Int, String)] = {
    import spark.implicits._
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else try {
      val j = mapper.readTree(Files.readString(p))
      val v = j.get("version").asInt()
      val fp = Option(j.get("manifest_fp")).map(_.asText()).getOrElse("")
      val rows = scala.collection.mutable
        .ArrayBuffer.empty[(Long, Long, Long, Double, Double, Double,
          Double)]
      j.get("fids").forEach { n =>
        rows += ((n.get("fid").asLong(), n.get("cnt").asLong(),
          n.get("nodata").asLong(),
          java.lang.Double.longBitsToDouble(n.get("mn").asLong()),
          java.lang.Double.longBitsToDouble(n.get("mx").asLong()),
          java.lang.Double.longBitsToDouble(n.get("sum").asLong()),
          java.lang.Double.longBitsToDouble(n.get("sumsq").asLong())))
      }
      Some((rows.toSeq
        .toDF("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq"), v, fp))
    } catch { case _: Exception => None }
  }

  /** Back-compat alias: resumable run without percentiles /
    * last-wins. */
  def resumableGroupStats(spark: SparkSession, table: TileTable,
      zones: Seq[Zone], ckptDir: String, runId: String,
      maxChunks: Int = DefaultMaxChunks,
      keepCheckpoints: Boolean = true): DataFrame =
    resumableZonalStats(spark, table, zones, ckptDir, runId,
      maxChunks = maxChunks, keepCheckpoints = keepCheckpoints)

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p)) {
      val s = Files.list(p)
      try s.forEach(deleteRecursively(_)) finally s.close()
    }
    Files.deleteIfExists(p)
  }

  private def writeLineage(dir: String, chunk: Int,
      files: Seq[TileFileStat], fp: String, runId: String, wallMs: Double,
      partitions: Array[(Int, Long, Long)]): Unit = {
    val o = mapper.createObjectNode()
    o.put("chunk", chunk)
    val fa = o.putArray("files")
    files.foreach(f => fa.add(f.path))
    o.put("cellMin", files.map(_.cellMin).min)
    o.put("cellMax", files.map(_.cellMax).max)
    o.put("fingerprint", fp)
    o.put("runId", runId)
    o.put("wallMs", wallMs)
    val arr = o.putArray("partitions")
    partitions.sortBy(_._1).foreach { case (p, rows, px) =>
      val po = arr.addObject()
      po.put("partition", p); po.put("partialRows", rows)
      po.put("pixels", px)
    }
    Files.createDirectories(Paths.get(dir))
    val tmp = Paths.get(dir, ".lineage.json.tmp")
    Files.writeString(tmp,
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(o))
    Files.move(tmp, Paths.get(dir, "lineage.json"),
      StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  private def lineageField(ckptDir: String, i: Int,
      field: String): Option[String] = {
    val p = Paths.get(chunkDir(ckptDir, i), "lineage.json")
    if (!Files.exists(p)) None
    else Option(mapper.readTree(Files.readString(p)).get(field))
      .map(_.asText())
  }

  def lineageRunId(ckptDir: String, i: Int): Option[String] =
    lineageField(ckptDir, i, "runId")
}
