package graft.perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Benchmark child JVM.
  *
  *   --workload W --seed N --dir D --scratch S --seconds T --trace 0|1
  *   --result F [--inject-wrong 1]
  *
  * writes the seeded inputs of W into D, sets up, runs one cold rep and
  * warm reps for T seconds, checks every rep's output and writes the
  * result JSON to F.
  *
  * The first warm reps are a warm-up that no figure includes. With
  * `--trace 1` the odd warm reps after it are traced (spans, Spark job
  * attribution) and even ones are not, which gives the tracing
  * overhead; the layer probes run after the reps. */
object Main {
  val SetupReps = 3
  val MinWarm: Int = if (Inputs.Tiny) 1 else 3
  /** Traced and untraced timed reps of a `--trace 1` run, each. */
  val TraceReps: Int = if (Inputs.Tiny) 1 else 2
  val WarmupSecs: Double = if (Inputs.Tiny) 0.0 else 10.0

  /** Per-layer metrics of layers only some workloads exercise: 0 where
    * the workload does no such work. */
  val LayerDefaults: Seq[String] = Seq("commit_s", "refresh_s",
    "TileTable.prune_s", "TileTable.files_total", "TileTable.files_read",
    "TileTable.prune_ratio", "TileTable.scan_s", "TileTable.bytes_read",
    "TileTable.open_s", "TileTable.delete_s", "TileTable.append_s",
    "TileTable.bytes_written", "TileTable.changes_s", "TileTable.compact_s",
    "ImageCodec.decode_s", "ImageCodec.decode_ns_per_px",
    "ImageCodec.payload_bytes_per_tile", "ZoneIndex.build_s",
    "ZoneIndex.candidates_per_tile", "ZoneIndex.covered_frac",
    "ZoneIndex.crossings_per_tile", "ZoneIndex.probe_ns_per_tile",
    "ZonalStats.kernel_ns_per_tile", "ZonalStats.kernel_lastwins_ns_per_tile",
    "ZonalStats.partials_per_tile", "ZonalStats.pixels_assigned",
    "ZonalStats.vals_bytes", "Percentiles.agg_s", "Percentiles.values",
    "Percentiles.max_group_values", "Checkpoints.chunked_s", "Checkpoints.chunks",
    "Checkpoints.bytes_written", "Checkpoints.write_amp",
    "ZonalEngine.run_table_s", "ZonalEngine.fallback_s", "ZonalEngine.unset_zones",
    "ZonalEngine.incremental_s", "OverlapKnn.pairs_s", "Config.parse_s",
    "ZoneStore.load_s", "ZonalJob.run_s", "ZonalJob.render_s", "ZonalJob.incremental")

  /** The session exactly as `graft.Main` builds it. */
  def session(name: String): SparkSession = {
    val s = SparkSession.builder()
      .master(sys.props.getOrElse("spark.master",
        sys.env.getOrElse("SPARK_MASTER", "local[*]")))
      .appName(s"graft-$name")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    measure(Workloads.byName(a("workload")), a("seed").toLong,
      Paths.get(a("dir")), Paths.get(a("scratch")), a("seconds").toDouble,
      a("trace") == "1", a.get("inject-wrong").contains("1"),
      Paths.get(a("result")))
  }

  private def cores(spark: SparkSession): Int =
    spark.sparkContext.defaultParallelism

  def measure(wl: Workload, seed: Long, dir: Path, scratch: Path,
      seconds: Double, trace: Boolean, injectWrong: Boolean,
      result: Path): Unit = {
    import Workloads.{mid, secs}
    var ctx: Ctx = null
    val tr = new Tracer(() => ctx.spark)
    ctx = new Ctx(seed, dir, scratch, tr, injectWrong)
    val c = ctx
    Files.createDirectories(scratch)

    // the seeded inputs, written by the library in this JVM before
    // anything is timed
    val synthS = secs {
      val s = session(wl.name)
      try wl.synth(s, seed, dir) finally s.stop()
    }._2

    // set-up: session creation plus opening the inputs, several times
    tr.enabled = trace
    val setups = (1 to SetupReps).map { _ =>
      if (c.spark != null) c.spark.stop()
      secs { c.spark = session(wl.name); wl.open(c) }._2
    }
    tr.enabled = false
    val spark = c.spark
    val jobs = new JobTrace(tr.SpanProp)
    if (trace) spark.sparkContext.addSparkListener(jobs)

    final case class Rep(i: Int, traced: Boolean, wall: Double, gcS: Double,
        ok: Boolean, phases: Map[String, Double], hygiene: Map[String, Double])
    val reps = mutable.ArrayBuffer.empty[Rep]
    val failures = mutable.ArrayBuffer.empty[String]
    var cold: RepOut = null

    def runRep(i: Int, traced: Boolean): Unit = {
      tr.enabled = traced
      tr.rep = i
      val gc0 = Telemetry.gcSecs
      val t0 = System.nanoTime()
      val res = try Right(tr.span("rep")(wl.rep(c, i)))
        catch { case scala.util.control.NonFatal(e) => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val gcS = Telemetry.gcSecs - gc0
      tr.enabled = false
      val errs = res match {
        case Left(e) => Seq(s"rep failed: $e")
        case Right(out) =>
          if (cold == null) cold = out
          c.lastOut = out
          try wl.check(c, i, out, cold)
          catch { case scala.util.control.NonFatal(e) => Seq(s"check failed: $e") }
      }
      failures ++= errs.take(5).map(e => s"rep $i: $e")
      val hyg = Telemetry.hygiene(spark)
      graft.engine.Caches.drain(spark)
      tr.enabled = traced
      tr.rep = -1
      try wl.afterRep(c, i)
      catch { case scala.util.control.NonFatal(e) => failures += s"rep $i maintenance: $e" }
      tr.enabled = false
      reps += Rep(i, traced, wall, gcS, errs.isEmpty,
        res.toOption.map(_.phases).getOrElse(Map.empty), hyg)
    }

    // the cold rep, then warm-up reps (at least WarmupSecs of them)
    // that no warm figure includes
    runRep(0, traced = trace)
    val warmup0 = System.nanoTime()
    var i = 1
    while (i == 1 || (System.nanoTime() - warmup0) / 1e9 < WarmupSecs) {
      runRep(i, traced = false)
      i += 1
    }
    val firstTimed = i
    Telemetry.resetHeapPeak()
    val (steal0, total0) = Telemetry.cpuJiffies
    val loop0 = System.nanoTime()
    def enough: Boolean = {
      val traced = reps.count(r => r.i >= firstTimed && r.traced)
      val plain = reps.count(r => r.i >= firstTimed && !r.traced)
      (if (trace) traced >= TraceReps && plain >= TraceReps
       else plain >= MinWarm) &&
        (System.nanoTime() - loop0) / 1e9 >= seconds
    }
    while (!enough) {
      runRep(i, traced = trace && i % 2 == 1)
      i += 1
    }
    val heapPeak = Telemetry.heapPeakMb
    val (steal1, total1) = Telemetry.cpuJiffies

    val warm = reps.filter(_.i >= firstTimed)
    val timed = warm.filterNot(_.traced)
    val attempted = reps.size
    var failed = reps.count(!_.ok)
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> mid(setups),
      "cold_s" -> reps.head.wall,
      "run_s" -> mid(timed.map(_.wall)),
      "tiles_per_s" -> wl.tilesRead(c) / mid(timed.map(_.wall)))

    val layers = mutable.LinkedHashMap.empty[String, Double]
    if (trace) {
      LayerDefaults.foreach(layers(_) = 0.0)
      org.apache.spark.GraftBenchProbe.drainListenerBus(spark.sparkContext)
      val tracedWarm = warm.filter(_.traced)
      val repSpans = tr.spans.filter(s => s.name == "rep" &&
        tracedWarm.exists(_.i == s.rep))
      // Spark counters per traced warm rep, as medians
      val sparkM = repSpans.map(s => jobs.repMetrics(tr, s, cores(spark)))
      sparkM.headOption.foreach(_.keys.foreach(k =>
        layers(k) = mid(sparkM.map(_(k)))))
      def spanMedian(n: String) =
        mid(tr.spans.filter(s => s.name == n && s.rep > 0).map(_.secs))
      layers("TileTable.open_s") = mid(tr.byName("TileTable.open").map(_.secs))
      layers("ZoneStore.load_s") = mid(tr.byName("ZoneStore.load").map(_.secs))
      layers("Config.parse_s") = spanMedian("Config.parseAndValidate")
      layers("ZonalEngine.run_table_s") = spanMedian("ZonalEngine.runTable")
      layers("OverlapKnn.pairs_s") = spanMedian("OverlapKnn.overlapPairs")
      layers("ZonalJob.run_s") = spanMedian("ZonalJob.run")
      QueryReplay.Queries.foreach(q =>
        layers(s"query.${q}_s") = spanMedian(s"query.$q"))

      // end-to-end figures that exist on some workloads only, from the
      // untraced warm reps
      val runS = e2e("run_s")
      layers("commit_s") = mid(timed.flatMap(_.phases.get("commit_s")))
      layers("refresh_s") = mid(timed.flatMap(_.phases.get("refresh_s")))

      // JVM and session hygiene
      layers("jvm.gc_s") = mid(warm.map(_.gcS))
      layers("jvm.heap_live_mb") = warm.last.hygiene("jvm.heap_live_mb")
      layers("jvm.heap_live_growth_mb") =
        warm.last.hygiene("jvm.heap_live_mb") - reps.head.hygiene("jvm.heap_live_mb")
      Seq("Caches.pending", "spark.persisted_rdds", "spark.live_broadcasts")
        .foreach(k => layers(k) = reps.map(_.hygiene(k)).max)
      layers("heap_peak_mb") = heapPeak
      layers("host.steal_pct") =
        if (total1 > total0) 100.0 * (steal1 - steal0) / (total1 - total0) else 0.0
      layers("trace.overhead_frac") =
        mid(tracedWarm.map(_.wall)) / runS - 1.0
      // share of each traced rep's wall covered by its direct child spans
      layers("trace.span_coverage") = repSpans.map { r =>
        tr.spans.filter(_.parent == r.id).map(_.secs).sum / r.secs
      }.min

      wl.probes(c, layers)
      failures ++= c.probeFailures
      failed += c.probeFailed
      layers("failed_frac") = failed.toDouble / (attempted + c.probeReps)
    }

    val detail = Map(
      "workload" -> wl.name, "seed" -> seed, "trace" -> trace,
      "synth_s" -> synthS, "setup_s" -> setups, "reps" -> reps.map(r => Map("i" -> r.i,
        "traced" -> r.traced, "wall_s" -> r.wall, "gc_s" -> r.gcS, "ok" -> r.ok,
        "phases" -> r.phases, "hygiene" -> r.hygiene)),
      "failures" -> failures.toSeq,
      "spans" -> tr.spans.map(s => Seq(s.name, s.rep, s.secs)),
      "spark_conf" -> spark.conf.getAll,
      "jvm_flags" -> java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq)
    spark.stop()
    Files.writeString(result, new com.fasterxml.jackson.databind.ObjectMapper()
      .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      .writeValueAsString(Map(
        "correct" -> (failed == 0), "attempted" -> (attempted + c.probeReps),
        "failed" -> failed,
        "end_to_end" -> e2e, "per_layer" -> layers, "detail" -> detail)))
  }
}
