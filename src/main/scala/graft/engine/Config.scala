package graft.engine

import java.io.FileNotFoundException
import java.nio.file.attribute.BasicFileAttributes
import java.nio.file.{FileVisitOption, FileVisitResult, Files, Path, Paths, SimpleFileVisitor}
import scala.jdk.CollectionConverters._

/** INI job configuration — parse + eager validation mirroring
  * `parse_and_validate_config` (`/root/reference/runner.py:87-261`):
  *   1) `[project].name` must equal the config file stem;
  *   2) `[project].log_level` must be a known level;
  *   3) job tags must be unique;
  *   4) `agg_vector` must exist; `base_raster_pattern` must be set and
  *      glob to at least one tile table;
  *   5) `agg_layer`/`agg_field` must exist in the vector store;
  *   6) `operations` ⊆ VALID_OPERATIONS.
  *
  * Engine mapping of the reference's storage concepts: a "vector" is
  * a zones parquet file (fid, <fields...>, geom_wkb); its "layers"
  * are the parquet files of the containing directory; a "raster" is a
  * graft tile-table root (manifest.json + data/). The INI dialect
  * matches configparser for the constructs the reference configs use
  * (sections, `k = v` / `k=v`, `#`/`;` comments, no interpolation).
  */
object Config {

  val ValidOperations: Set[String] = Set("avg", "stdev", "min", "max",
    "sum", "total_count", "valid_count", "median", "p5", "p10", "p25",
    "p75", "p90", "p95")

  val LogLevels: Set[String] = Set("CRITICAL", "FATAL", "ERROR", "WARN",
    "WARNING", "INFO", "DEBUG", "NOTSET")

  final case class JobSpec(tag: String, aggVector: String, aggLayer: String,
      aggField: String, rasterPaths: Seq[String], operations: Seq[String],
      rowColOrder: String, workdir: String, outputCsv: String) {
    /** percentile list exactly as `runner.py:945-949` parses it:
      * p-prefixed numerics only ("median" is NOT a percentile). */
    def percentiles: Seq[Double] = operations
      .filter(op => op.startsWith("p") &&
        op.drop(1).replaceFirst("\\.", "").forall(_.isDigit) &&
        op.length > 1)
      .map(op => op.drop(1).toDouble)
  }

  final case class ProjectConfig(name: String, globalWorkDir: String,
      globalOutputDir: String, logLevel: String, jobs: Seq[JobSpec])

  /** Minimal configparser-compatible INI reader. */
  def parseIni(text: String): Seq[(String, Map[String, String])] = {
    val sections = scala.collection.mutable.ArrayBuffer
      .empty[(String, scala.collection.mutable.LinkedHashMap[String, String])]
    var current: scala.collection.mutable.LinkedHashMap[String, String] = null
    for (lineRaw <- text.linesIterator) {
      val line = lineRaw.trim
      if (line.isEmpty || line.startsWith("#") || line.startsWith(";")) {}
      else if (line.startsWith("[") && line.endsWith("]")) {
        current = scala.collection.mutable.LinkedHashMap.empty
        sections += ((line.substring(1, line.length - 1), current))
      } else {
        val eq = line.indexOf('=')
        val co = line.indexOf(':')
        val sep = if (eq >= 0 && (co < 0 || eq < co)) eq else co
        require(sep >= 0, s"invalid INI line: $line")
        require(current != null, s"key outside a section: $line")
        current(line.substring(0, sep).trim) = line.substring(sep + 1).trim
      }
    }
    sections.map { case (n, m) => (n, m.toMap) }.toSeq
  }

  def parseAndValidate(cfgPath: Path): ProjectConfig = {
    val stem = {
      val n = cfgPath.getFileName.toString
      val dot = n.lastIndexOf('.')
      if (dot > 0) n.substring(0, dot) else n
    }
    val sections = parseIni(Files.readString(cfgPath))
    val byName = sections.toMap
    if (!byName.contains("project"))
      throw new IllegalArgumentException("Missing [project] section")
    val project = byName("project")

    val projectName = project.getOrElse("name", "").trim
    if (projectName != stem)
      throw new IllegalArgumentException(
        s"[project].name must equal config stem: expected $stem, got $projectName")

    val logLevel = project.getOrElse("log_level", "INFO").trim.toUpperCase
    if (!LogLevels.contains(logLevel))
      throw new IllegalArgumentException(s"Invalid log_level: $logLevel")

    val workDir = project.getOrElse("global_work_dir",
      throw new IllegalArgumentException("missing global_work_dir")).trim
    val outDir = project.getOrElse("global_output_dir",
      throw new IllegalArgumentException("missing global_output_dir")).trim

    val jobSections = sections.filter(_._1.startsWith("job:"))
    val tags = jobSections.map(_._1.split(":", 2)(1).trim)
    tags.foreach(t => if (t.isEmpty)
      throw new IllegalArgumentException("Invalid job section name"))
    val dups = tags.groupBy(identity).filter(_._2.size > 1).keys.toSeq.sorted
    if (dups.nonEmpty)
      throw new IllegalArgumentException(s"Duplicate job tags found: $dups")

    val jobs = jobSections.zip(tags).map { case ((_, job), tag) =>
      val aggVector = job.getOrElse("agg_vector", "").trim
      if (aggVector.isEmpty)
        throw new IllegalArgumentException(s"[job:$tag] missing agg_vector")
      if (!Files.exists(Paths.get(aggVector)))
        throw new FileNotFoundException(
          s"[job:$tag] agg_vector not found: $aggVector")

      val pattern = job.getOrElse("base_raster_pattern", "").trim
      if (pattern.isEmpty)
        throw new FileNotFoundException(
          s"[job:$tag] base_raster_pattern tag not found")
      val rasterPaths = pattern.split(",").map(_.trim).filter(_.nonEmpty)
        .flatMap(glob).toSeq
      if (rasterPaths.isEmpty)
        throw new FileNotFoundException(
          s"[job:$tag] no files found at $pattern")

      val aggField = job.getOrElse("agg_field", "").trim
      if (aggField.isEmpty)
        throw new IllegalArgumentException(s"[job:$tag] missing agg_field")

      val opsRaw = job.getOrElse("operations", "").trim
      if (opsRaw.isEmpty)
        throw new IllegalArgumentException(s"[job:$tag] missing operations")
      val ops = opsRaw.split(",").map(_.trim.toLowerCase).filter(_.nonEmpty)
        .toSeq
      if (ops.isEmpty)
        throw new IllegalArgumentException(s"[job:$tag] operations is empty")
      val invalid = (ops.toSet -- ValidOperations).toSeq.sorted
      if (invalid.nonEmpty)
        throw new IllegalArgumentException(
          s"[job:$tag] invalid operations: $invalid. " +
            s"Valid operations: ${ValidOperations.toSeq.sorted}")

      // "layers" = parquet files next to the vector (GPKG layer analogue)
      val vecPath = Paths.get(aggVector)
      val layers = Files.list(vecPath.getParent).iterator().asScala
        .map(_.getFileName.toString).filter(_.endsWith(".parquet"))
        .map(_.stripSuffix(".parquet")).toSeq.sorted
      var aggLayer = job.getOrElse("agg_layer", "").trim
      if (aggLayer.isEmpty) {
        if (layers.isEmpty)
          throw new IllegalArgumentException(
            s"[job:$tag] no layers found in $aggVector")
        aggLayer = vecPath.getFileName.toString.stripSuffix(".parquet")
      }
      if (!layers.contains(aggLayer))
        throw new IllegalArgumentException(
          s"""[job:$tag] agg_layer "$aggLayer" not found in $aggVector. """ +
            s"Available layers: $layers")

      val fields = ZoneStore.fields(
        vecPath.getParent.resolve(s"$aggLayer.parquet").toString)
      if (!fields.contains(aggField))
        throw new IllegalArgumentException(
          s"""[job:$tag] agg_field "$aggField" not found in layer """ +
            s""""$aggLayer" of $aggVector. Available fields: """ +
            fields.sorted.toString)

      if (!job.contains("row_col_order"))
        throw new NoSuchElementException(s"[job:$tag] row_col_order")

      Files.createDirectories(Paths.get(outDir))
      Files.createDirectories(Paths.get(workDir, tag))
      JobSpec(tag, aggVector, aggLayer, aggField, rasterPaths, ops,
        job("row_col_order"), s"$workDir/$tag", s"$outDir/$tag.csv")
    }

    ProjectConfig(projectName, workDir, outDir, logLevel, jobs)
  }

  /** `Path(".").glob(pattern)` analogue for tile-table roots, extended
    * to accept absolute patterns. A pattern without a glob character
    * names one path: itself, if it exists. A globbed pattern is walked
    * from its deepest fixed prefix directory, no deeper than its
    * segments reach (8 levels for `**`); unreadable directories are
    * skipped. */
  private[engine] def glob(pattern: String): Seq[String] = {
    val norm = pattern.stripPrefix("./")
    val segs = norm.split('/')
    val firstGlob = segs.indexWhere(s => s.exists("*?[{".contains(_)))
    if (firstGlob < 0)
      return if (Files.exists(Paths.get(norm))) Seq(norm) else Nil
    val fixed = segs.take(firstGlob).mkString("/")
    val base = Paths.get(
      if (fixed.nonEmpty) fixed else if (norm.startsWith("/")) "/" else ".")
    if (!Files.isDirectory(base)) return Nil
    val depth = if (norm.contains("**")) 8 else segs.length - firstGlob
    val matcher = java.nio.file.FileSystems.getDefault
      .getPathMatcher("glob:" + norm)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    def visit(p: Path): FileVisitResult = {
      // walking "." yields "./x": match the pattern's own form "x"
      val cand = if (fixed.isEmpty && !norm.startsWith("/"))
        base.relativize(p) else p
      if (matcher.matches(cand)) out += cand.toString
      FileVisitResult.CONTINUE
    }
    Files.walkFileTree(base, java.util.EnumSet.noneOf(
      classOf[FileVisitOption]), depth, new SimpleFileVisitor[Path] {
      override def preVisitDirectory(d: Path,
          a: BasicFileAttributes): FileVisitResult = visit(d)
      override def visitFile(f: Path,
          a: BasicFileAttributes): FileVisitResult = visit(f)
      override def visitFileFailed(f: Path,
          e: java.io.IOException): FileVisitResult = FileVisitResult.CONTINUE
    })
    out.toSeq.sorted
  }
}
