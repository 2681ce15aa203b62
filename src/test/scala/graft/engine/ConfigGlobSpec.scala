package graft.engine

import java.nio.file.{Files, Paths}

/** `base_raster_pattern` resolution: a pattern without a glob
  * character names one path; a globbed one walks only its deepest
  * fixed prefix. */
class ConfigGlobSpec extends org.scalatest.funsuite.AnyFunSuite {
  private def layout(root: java.nio.file.Path): Unit =
    Seq("rasters/raster_a", "rasters/raster_b", "rasters/other",
      "nested/x/raster_c").foreach(d =>
      Files.createDirectories(root.resolve(d)))

  test("absolute patterns, with and without a glob character") {
    val root = Files.createTempDirectory("glob-abs").toAbsolutePath
    layout(root)
    assert(Config.glob(s"$root/rasters/raster_a") ===
      Seq(s"$root/rasters/raster_a"))
    assert(Config.glob(s"$root/rasters/missing") === Nil)
    assert(Config.glob(s"$root/rasters/raster_*") ===
      Seq(s"$root/rasters/raster_a", s"$root/rasters/raster_b"))
    assert(Config.glob(s"$root/*/x/raster_?") ===
      Seq(s"$root/nested/x/raster_c"))
    assert(Config.glob(s"$root/missing/raster_*") === Nil)
  }

  test("relative patterns, with and without a glob character") {
    // relative to the working directory, under the build's target dir
    val rel = Paths.get("target", s"glob-rel-${System.nanoTime()}")
    layout(rel)
    try {
      assert(Config.glob(s"$rel/rasters/raster_b") ===
        Seq(s"$rel/rasters/raster_b"))
      assert(Config.glob(s"./$rel/rasters/raster_b") ===
        Seq(s"$rel/rasters/raster_b"))
      assert(Config.glob(s"$rel/rasters/raster_*") ===
        Seq(s"$rel/rasters/raster_a", s"$rel/rasters/raster_b"))
      assert(Config.glob(s"./$rel/**/raster_c") ===
        Seq(s"$rel/nested/x/raster_c"))
    } finally Checkpoints.deleteRecursively(rel)
  }
}
