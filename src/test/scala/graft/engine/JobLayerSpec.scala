package graft.engine

import graft.SparkSpec
import graft.geom.Morton
import graft.oracle.RefOracle
import graft.sources.TileTable
import graft.synth.Synth

import java.nio.file.{Files, Paths}

class PyReprSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("pyFloatRepr matches CPython repr() goldens") {
    val cases = Seq(
      3.0 -> "3.0", 3.5 -> "3.5", 0.1 -> "0.1",
      1e16 -> "1e+16", 9999999999999998.0 -> "9999999999999998.0",
      1e-4 -> "0.0001", 9.999e-5 -> "9.999e-05", 1.5e-7 -> "1.5e-07",
      47.9390243902439 -> "47.9390243902439",
      28.064102389897037 -> "28.064102389897037",
      -0.0 -> "-0.0", 123456789.123 -> "123456789.123",
      2.5e16 -> "2.5e+16", 1e22 -> "1e+22")
    cases.foreach { case (d, exp) =>
      assert(ZonalJob.pyFloatRepr(d) === exp, s"for $d")
    }
  }
}

class TileTableSpec extends SparkSpec {
  private val root = Files.createTempDirectory("graft-tt").toString
  private val grid = Synth.testGrid

  test("write → open roundtrip preserves metadata + rows") {
    val t = TileTable.write(spark, Synth.tiles(spark, grid), grid,
      Some(-9999.0), root, cellLevel = 8, numFiles = 4)
    assert(t.manifest.files.nonEmpty)
    val t2 = TileTable.open(root)
    assert(t2.grid === grid)
    assert(t2.nodata === Some(-9999.0))
    assert(t2.read(spark).count() === grid.numTiles)
    assert(t2.manifest.files.map(_.rows).sum === grid.numTiles)
  }

  test("SRS tags roundtrip through manifest and zone sidecar") {
    val dir = Files.createTempDirectory("graft-srs").toString
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      s"$dir/t", cellLevel = 8, numFiles = 1, srs = Some("EPSG:3857"))
    assert(TileTable.open(s"$dir/t").manifest.srs === Some("EPSG:3857"))
    // absent srs stays absent (back-compat with round-1 manifests)
    assert(TileTable.open(root).manifest.srs === None)

    ZoneStore.write(spark, Fixtures.zonesBasic(grid), "grp",
      s"$dir/z.parquet", srs = Some("EPSG:4326"))
    assert(ZoneStore.srs(s"$dir/z.parquet") === Some("EPSG:4326"))
    // the sidecar must not disturb the parquet read
    assert(ZoneStore.load(spark, s"$dir/z.parquet", "grp").size ===
      Fixtures.zonesBasic(grid).size)
  }

  test("streaming ingest: appendBatch grows the manifest atomically, " +
      "compaction defragments") {
    val dir = Files.createTempDirectory("graft-ingest").toString
    val all = Synth.tiles(spark, grid)
    import org.apache.spark.sql.functions.col
    // bootstrap with the first half of the tile rows
    TileTable.write(spark, all.where(col("image_id") < "tile_0004"), grid,
      Some(-9999.0), dir, cellLevel = 8, numFiles = 2)
    assert(TileTable.open(dir).read(spark).count() === grid.numTiles / 2)

    // drive the remaining rows through a streaming foreachBatch sink
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[Int]
    val query = ms.toDF().writeStream.foreachBatch {
      (batch: org.apache.spark.sql.DataFrame, batchId: Long) =>
        val rows = batch.collect().map(_.getInt(0)).toSet
        if (rows.contains(1))
          TileTable.appendBatch(spark, dir, all.where(
            col("image_id") >= "tile_0004" && col("image_id") < "tile_0006"),
            batchId)
        if (rows.contains(2))
          TileTable.appendBatch(spark, dir,
            all.where(col("image_id") >= "tile_0006"), batchId)
        ()
    }.start()
    try {
      ms.addData(1); query.processAllAvailable()
      assert(TileTable.open(dir).read(spark).count() === grid.numTiles * 3 / 4)
      ms.addData(2); query.processAllAvailable()
    } finally query.stop()

    val t = TileTable.open(dir)
    assert(t.read(spark).count() === grid.numTiles)
    assert(t.manifest.files.map(_.rows).sum === grid.numTiles)
    // at-least-once replay of an already-committed batch is a no-op
    // (foreachBatch redelivers after crashes; the table must not
    // double-count)
    TileTable.appendBatch(spark, dir,
      all.where(col("image_id") >= "tile_0006"), batchId = 1L)
    assert(TileTable.open(dir).read(spark).count() === grid.numTiles,
      "replayed batch duplicated rows")
    // fragmented layout (append dirs present) → compaction restores it
    assert(t.manifest.files.exists(_.path.startsWith("append-")))
    val c = TileTable.compact(spark, dir, numFiles = 2)
    assert(c.read(spark).count() === grid.numTiles)
    assert(c.manifest.files.forall(!_.path.startsWith("append-")))
    // zonal over the ingested+compacted table still matches the oracle
    val zones = Fixtures.zonesBasic(grid)
    val res = graft.operators.ZonalEngine.runTable(spark, c, zones)
    val exp = RefOracle.zonalStats(grid, Synth.value, zones, Some(-9999.0))
    val got = res.collect().map(r =>
      Option(r.getAs[String]("group")) -> r.getAs[Double]("sum")).toMap
    exp.foreach { case (g, s) => assert(got(g) === s.sum, s"group $g") }
  }

  test("TileStream.tableSink: writer-keyed streaming ingest — " +
      "exactly-once per checkpoint, fresh writers never swallowed") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val all = Synth.tiles(spark, grid)
    import org.apache.spark.sql.functions.col
    TileTable.write(spark, all.where(col("image_id") < "tile_0004"), grid,
      Some(-9999.0), dir, cellLevel = 8, numFiles = 2)
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val g = grid
    def runStream(writerId: String, loCol: String, hiCol: String): Unit = {
      val ms = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[Long]
      val tiles = ms.toDS().map(i => Synth.makeTile(g,
        (i / g.tilesX).toInt, (i % g.tilesX).toInt, "raw", 0)).toDF()
        .where(col("image_id") >= loCol && col("image_id") < hiCol)
      val q = tiles.writeStream
        .foreachBatch(graft.streaming.TileStream.tableSink(dir, writerId))
        .start()
      try {
        ms.addData(0L until g.numTiles: _*)
        q.processAllAvailable()
      } finally q.stop()
    }
    // stream A ingests [tile_0004, tile_0006) as its batch 0
    runStream("stream-A", "tile_0004", "tile_0006")
    assert(TileTable.open(dir).read(spark).count() === grid.numTiles * 3 / 4)
    // stream B — a DIFFERENT stream from a fresh checkpoint, batch ids
    // also from 0 — must append, not be dropped as A's replay
    runStream("stream-B", "tile_0006", "tile_9999")
    val t = TileTable.open(dir)
    assert(t.read(spark).count() === grid.numTiles,
      "fresh writer's batch 0 swallowed by another stream's ids")
    assert(t.manifest.writerBatches.keySet === Set("stream-A", "stream-B"))
    // replaying A's batch 0 IS a no-op (same writer, same id)
    TileTable.appendBatch(spark, dir, all.where(
      col("image_id") >= "tile_0004" && col("image_id") < "tile_0006"),
      batchId = 0L, writerId = "stream-A")
    assert(TileTable.open(dir).read(spark).count() === grid.numTiles)
  }

  test("compaction preserves rows, updates the manifest, prunes same") {
    val dir = Files.createTempDirectory("graft-compact").toString
    val t0 = TileTable.write(spark, Synth.tiles(spark, grid), grid,
      Some(-9999.0), dir, cellLevel = 8, numFiles = 16)
    assert(t0.manifest.files.size === 16)
    val before = t0.read(spark).select("image_id", "phash")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet

    val t1 = TileTable.compact(spark, dir, numFiles = 4)
    assert(t1.manifest.files.size <= 4)
    assert(t1.manifest.files.forall(_.path.startsWith("data-1/")))
    // old generation GC'd
    assert(!Files.exists(Paths.get(dir, "data")))
    // exact row preservation
    val after = t1.read(spark).select("image_id", "phash")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    assert(after === before)
    // pruning still correct over the new layout
    val env = new org.locationtech.jts.geom.Envelope(
      grid.gt.cornerX(2), grid.gt.cornerX(20),
      grid.gt.cornerY(12), grid.gt.cornerY(2))
    val ids = t1.readPruned(spark, env).select("image_id")
      .collect().map(_.getString(0)).toSet
    for (tr <- 0 until grid.tilesY; tc <- 0 until grid.tilesX)
      if (grid.tileEnvelope(tr, tc).intersects(env))
        assert(ids.contains(graft.operators.ZonalStats.tileId(tr, tc)))
    // a second compaction generation chains (data-1 -> data-2),
    // kept old generation is then vacuumable
    val t2 = TileTable.compact(spark, dir, numFiles = 2, keepOld = true)
    assert(t2.manifest.files.forall(_.path.startsWith("data-2/")))
    assert(t2.read(spark).count() === grid.numTiles)
    assert(Files.exists(Paths.get(dir, "data-1")), "keepOld ignored")
    // default grace window protects freshly-written dirs...
    assert(TileTable.vacuum(dir) === Seq.empty)
    assert(Files.exists(Paths.get(dir, "data-1")))
    // ...an expired one is collected
    val removed = TileTable.vacuum(dir, graceMs = 0L)
    assert(removed === Seq("data-1"))
    assert(!Files.exists(Paths.get(dir, "data-1")))
    assert(TileTable.open(dir).read(spark).count() === grid.numTiles)
  }

  test("pruned read returns exactly the overlapping tiles") {
    val t = TileTable.open(root)
    // envelope of zone fid1: pixel cols [2,20), rows [2,12) → tiles
    // (0..0, 0..1) region
    val env = new org.locationtech.jts.geom.Envelope(
      grid.gt.cornerX(2), grid.gt.cornerX(20),
      grid.gt.cornerY(12), grid.gt.cornerY(2))
    val pruned = t.readPruned(spark, env)
    val ids = pruned.select("image_id").collect().map(_.getString(0)).toSet
    // must contain every tile whose envelope intersects env
    for (tr <- 0 until grid.tilesY; tc <- 0 until grid.tilesX) {
      val te = grid.tileEnvelope(tr, tc)
      if (te.intersects(env)) {
        assert(ids.contains(graft.operators.ZonalStats.tileId(tr, tc)),
          s"missing tile ($tr,$tc)")
      }
    }
    // and prune most of the 64-tile table
    assert(ids.size < 30, s"pruning ineffective: ${ids.size} tiles")
  }

  test("zonal results from pruned read match oracle") {
    val t = TileTable.open(root)
    val zones = Fixtures.zonesBasic(grid)
    val env = new org.locationtech.jts.geom.Envelope()
    zones.foreach(z => env.expandToInclude(z.geom.getEnvelopeInternal))
    val res = graft.operators.ZonalEngine.run(spark,
      t.readPruned(spark, env), zones, grid, Some(-9999.0))
    val exp = RefOracle.zonalStats(grid, Synth.value, zones, Some(-9999.0))
    val got = res.collect().map(r =>
      Option(r.getAs[String]("group")) -> r.getAs[Double]("sum")).toMap
    exp.foreach { case (g, s) => assert(got(g) === s.sum, s"group $g") }
  }
}

class CheckpointSpec extends SparkSpec {
  test("chunked run resumes: completed chunks skipped, result identical") {
    val grid = Synth.testGrid
    val root = Files.createTempDirectory("graft-ct").toString
    val ckpt = Files.createTempDirectory("graft-ck").toString
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      root, cellLevel = 8, numFiles = 4)
    val table = TileTable.open(root)
    val zones = Fixtures.zonesBasic(grid)

    // run 1 computes all chunks
    val r1 = Checkpoints.resumableGroupStats(spark, table, zones, ckpt,
      runId = "run1")
    val v1 = r1.collect().map(r => (Option(r.getAs[String]("group")),
      r.getAs[Long]("count"), r.getAs[Double]("sum"))).toSet
    assert(table.manifest.files.indices.forall(
      Checkpoints.isChunkDone(ckpt, _)))

    // simulate interrupt: delete the LAST chunk only
    val last = table.manifest.files.size - 1
    val lastDir = Paths.get(Checkpoints.chunkDir(ckpt, last))
    def rmrf(p: java.nio.file.Path): Unit = {
      if (Files.isDirectory(p))
        Files.list(p).forEach(rmrf(_))
      Files.deleteIfExists(p)
    }
    rmrf(lastDir)
    assert(!Checkpoints.isChunkDone(ckpt, last))

    // run 2 must recompute ONLY the missing chunk and keep run1's
    // lineage on the untouched ones
    val r2 = Checkpoints.resumableGroupStats(spark, table, zones, ckpt,
      runId = "run2")
    val v2 = r2.collect().map(r => (Option(r.getAs[String]("group")),
      r.getAs[Long]("count"), r.getAs[Double]("sum"))).toSet
    assert(v1 === v2)
    assert(Checkpoints.lineageRunId(ckpt, 0) === Some("run1"))
    assert(Checkpoints.lineageRunId(ckpt, last) === Some("run2"))

    // and equals the non-chunked engine result
    val direct = graft.operators.ZonalEngine.run(spark,
      table.read(spark), zones, grid, Some(-9999.0))
    val v3 = direct.collect().map(r => (Option(r.getAs[String]("group")),
      r.getAs[Long]("count"), r.getAs[Double]("sum"))).toSet
    assert(v1 === v3)

    // progress feed: at least a summary line with stage counters
    val prog = Paths.get(ckpt, "progress.jsonl")
    assert(Files.exists(prog))
    val progLines = Files.readAllLines(prog)
    assert(progLines.stream().anyMatch(_.contains("\"kind\":\"summary\"")))
  }

  test("stale checkpoint (input fingerprint mismatch) is recomputed") {
    val grid = Synth.testGrid
    val root = Files.createTempDirectory("graft-ct2").toString
    val ckpt = Files.createTempDirectory("graft-ck2").toString
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      root, cellLevel = 8, numFiles = 2)
    val table = TileTable.open(root)
    val zonesA = Fixtures.zonesBasic(grid)
    // zone set B differs → same ckptDir must NOT be reused
    val zonesB = zonesA.filter(_.fid != 1L)

    Checkpoints.resumableGroupStats(spark, table, zonesA, ckpt,
      runId = "runA").count()
    val r2 = Checkpoints.resumableGroupStats(spark, table, zonesB, ckpt,
      runId = "runB")
    // every chunk recomputed under runB (fingerprints differ)
    val nChunks = Checkpoints.chunkFiles(table.manifest.files, Checkpoints.DefaultMaxChunks).size
    (0 until nChunks).foreach { i =>
      assert(Checkpoints.lineageRunId(ckpt, i) === Some("runB"))
    }
    // and the result matches a fresh direct run over zonesB
    val direct = graft.operators.ZonalEngine.run(spark, table.read(spark),
      zonesB, grid, Some(-9999.0))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (Option(r.getAs[String]("group")),
        r.getAs[Long]("count"), r.getAs[Double]("sum"))).toSet
    assert(key(r2) === key(direct))
  }

  test("keepCheckpoints=false GCs the scratch dir after materializing") {
    val grid = Synth.testGrid
    val root = Files.createTempDirectory("graft-ct3").toString
    val ckpt = Files.createTempDirectory("graft-ck3").toString + "/scratch"
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      root, cellLevel = 8, numFiles = 2)
    val table = TileTable.open(root)
    val zones = Fixtures.zonesBasic(grid)
    val res = Checkpoints.resumableGroupStats(spark, table, zones, ckpt,
      runId = "gc1", keepCheckpoints = false)
    assert(!Files.exists(Paths.get(ckpt)), "scratch dir not cleaned")
    // result still consumable after GC and matches the direct path
    val direct = graft.operators.ZonalEngine.run(spark, table.read(spark),
      zones, grid, Some(-9999.0))
    val key = (df: org.apache.spark.sql.DataFrame) => df.collect()
      .map(r => (Option(r.getAs[String]("group")),
        r.getAs[Long]("count"), r.getAs[Double]("sum"))).toSet
    assert(key(res) === key(direct))
  }

  test("resumable run with fully-pruned table (zones outside) zero-fills") {
    val grid = Synth.testGrid
    val root = Files.createTempDirectory("graft-ct4").toString
    val ckpt = Files.createTempDirectory("graft-ck4").toString
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      root, cellLevel = 8, numFiles = 2)
    val table = TileTable.open(root)
    // every zone strictly outside the raster → pruned chunk list is
    // empty; the run must still produce the zero-filled group rows
    val zones = Seq(
      graft.geom.Zone.rect(1, "a", 200.0, 10.0, 210.0, 20.0),
      graft.geom.Zone.rect(2, "b", 220.0, 10.0, 230.0, 20.0))
    val res = Checkpoints.resumableZonalStats(spark, table, zones, ckpt,
      runId = "outside")
    val rows = res.collect().map(r => (r.getAs[String]("group"),
      r.getAs[Long]("count"))).toMap
    assert(rows === Map("a" -> 0L, "b" -> 0L))
  }

  test("an old-format checkpoint (value partials parquet) is recomputed, " +
      "never merged") {
    val grid = Synth.testGrid
    val root = Files.createTempDirectory("graft-ct5").toString
    val ckpt = Files.createTempDirectory("graft-ck5").toString
    TileTable.write(spark, Synth.tiles(spark, grid), grid, Some(-9999.0),
      root, cellLevel = 8, numFiles = 2)
    val table = TileTable.open(root)
    val zones = Fixtures.zonesBasic(grid)
    // the chunk dir format 1 left behind: lineage whose fingerprint is
    // the legacy digest of these very inputs, beside bogus partials
    val simpl = zones.map(z => z.copy(geom =
      graft.geom.Zone.simplifyHalfPixel(z.geom, grid.gt.px)))
    val files = Checkpoints.chunkFiles(table.prunedFiles(
      graft.geom.Zone.totalEnvelope(simpl)), Checkpoints.DefaultMaxChunks)
    val dir = Paths.get(Checkpoints.chunkDir(ckpt, 0))
    Files.createDirectories(dir)
    val legacyFp = Checkpoints.fingerprint(Checkpoints.contextDigest(simpl,
      table.manifest, collectValues = true, format = 1), files.head, root)
    Files.writeString(dir.resolve("lineage.json"),
      s"""{"chunk":0,"fingerprint":"$legacyFp","runId":"legacy"}""")
    import spark.implicits._
    Seq((1L, 1000000L, 0L, -5.0, 5000.0, 1e9, 1e12, Array(5000.0f)))
      .toDF("fid", "cnt", "nodata", "mn", "mx", "sum", "sumsq", "vals")
      .write.parquet(dir.resolve("partials").toString)

    val res = Checkpoints.resumableZonalStats(spark, table, zones, ckpt,
      runId = "fresh", percentiles = Seq(5.0, 95.0))
    assert(Checkpoints.lineageRunId(ckpt, 0) === Some("fresh"))
    assert(!Files.exists(dir.resolve("partials")))
    val direct = graft.operators.ZonalEngine.run(spark, table.read(spark),
      zones, grid, Some(-9999.0), Seq(5.0, 95.0))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toSeq).toSet
    assert(rows(res) === rows(direct))
  }

  test("context digest is sensitive to nodata/grid/band/zone changes") {
    val grid = Synth.testGrid
    val zones = Fixtures.zonesBasic(grid)
    def man(nodata: Option[Double] = Some(-9999.0),
        bands: Seq[graft.sources.BandInfo] = Nil,
        g: graft.geom.RasterGrid = grid) =
      graft.sources.TileManifest(g, nodata, 8, Nil, None, bands)
    val base = Checkpoints.contextDigest(zones, man(), collectValues = false)
    assert(base === Checkpoints.contextDigest(zones, man(), false))
    assert(base !== Checkpoints.contextDigest(zones, man(nodata = None),
      false))
    assert(base !== Checkpoints.contextDigest(zones,
      man(bands = Seq(graft.sources.BandInfo(2, Some(-7777.0)))), false))
    assert(base !== Checkpoints.contextDigest(zones,
      man(g = graft.geom.RasterGrid(grid.gt, 256, 256, 16, 16)), false))
    assert(base !== Checkpoints.contextDigest(zones.tail, man(), false))
    assert(base !== Checkpoints.contextDigest(zones, man(), true))
  }

  test("chunkFiles groups contiguously and respects maxChunks") {
    def mk(n: Int) = (0 until n).map(i =>
      graft.sources.TileFileStat(s"f$i", i * 10L, i * 10L + 9, 5L))
    assert(Checkpoints.chunkFiles(mk(4), 64).map(_.size) === Seq(1, 1, 1, 1))
    val g = Checkpoints.chunkFiles(mk(10), 3)
    assert(g.size === 3 && g.flatten === mk(10))
    assert(Checkpoints.chunkFiles(mk(0), 8).isEmpty)
    assert(Checkpoints.chunkFiles(mk(5), 1).map(_.size) === Seq(5))
  }
}

class ConfigSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def write(name: String, body: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft-cfg")
    val p = dir.resolve(name)
    Files.writeString(p, body)
    p
  }

  test("name must equal stem") {
    val p = write("jobA.ini",
      "[project]\nname = other\nglobal_work_dir = ./w\nglobal_output_dir = ./o\n")
    val e = intercept[IllegalArgumentException](Config.parseAndValidate(p))
    assert(e.getMessage.contains("must equal config stem"))
  }

  test("duplicate tags rejected") {
    val p = write("c.ini",
      """[project]
        |name = c
        |global_work_dir = ./w
        |global_output_dir = ./o
        |[job:x]
        |agg_vector = /nonexistent
        |[job:x]
        |agg_vector = /nonexistent
        |""".stripMargin)
    val e = intercept[IllegalArgumentException](Config.parseAndValidate(p))
    assert(e.getMessage.contains("Duplicate job tags"))
  }

  test("missing agg_vector file raises FileNotFound") {
    val p = write("c.ini",
      """[project]
        |name = c
        |global_work_dir = ./w
        |global_output_dir = ./o
        |[job:x]
        |agg_vector = /definitely/not/here.parquet
        |""".stripMargin)
    intercept[java.io.FileNotFoundException](Config.parseAndValidate(p))
  }

  test("invalid operations rejected with the valid list") {
    val dir = Files.createTempDirectory("graft-cfg2")
    val vec = dir.resolve("zones.parquet")
    Files.writeString(vec, "placeholder") // existence check only here
    val p = write("c.ini",
      s"""[project]
         |name = c
         |global_work_dir = ./w
         |global_output_dir = ./o
         |[job:x]
         |agg_vector = $vec
         |base_raster_pattern = /nonexistent/*.x
         |""".stripMargin)
    // glob yields nothing → FileNotFound before ops check (ref order)
    intercept[java.io.FileNotFoundException](Config.parseAndValidate(p))
  }

  test("percentile parse mirrors runner (median is NOT a percentile)") {
    val job = Config.JobSpec("t", "v", "l", "f", Nil,
      Seq("avg", "stdev", "median", "p5", "p95", "total_count"), "", "", "")
    assert(job.percentiles === Seq(5.0, 95.0))
  }
}

class MortonCellSqlSpec extends org.scalatest.funsuite.AnyFunSuite {
  test("quantize truncation matches SQL trunc semantics") {
    // spot values used by q_cell_points
    for (ck <- Seq(1L, 7L, 359L, 360L, 1234L)) {
      val lon = (ck % 360).toDouble - 180.0 + 0.5
      val lat = ((ck * 7) % 180).toDouble - 90.0 + 0.5
      val cell = Morton.cellId(lon, lat, 8)
      val qx = math.min(math.max((((lon - -180.0) / 360.0) * 256).toLong, 0), 255)
      val qy = math.min(math.max((((lat - -90.0) / 180.0) * 256).toLong, 0), 255)
      assert(cell === Morton.interleave(qx, qy))
    }
  }
}
