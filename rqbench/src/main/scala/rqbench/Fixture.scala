package rqbench

import java.nio.file.{Files, Path, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions.quadbin_zoom
import graft.raquet.{FixtureGen, GeoTiff, Pyramid, RaquetIO, RaquetMetadata}

/** The benchmark's input data: a float32 slope raquet (`FixtureGen.slope*`,
  * one overview level, 8 MB row groups), the per-tile pixel sums the scan
  * checks compare against, and the GeoTIFF the convert probe ingests.
  *
  * A fixture is built once per (fixture seed, [[Layout]], compiled classes)
  * into a temporary directory and renamed into place, so a reader never
  * sees a half-built one and a checkout of other code reads what its own
  * writer produced. The fixture seed picks the raster origin; `run.py`
  * derives it from the run seed modulo 2, so values differ between seeds
  * while a full set of runs builds two fixtures per checkout (one build
  * takes longer than one run). */
object Fixture {

  val Zoom = 12
  val Grid = 32
  val Block = 256
  val PixelZoom: Int = Zoom + 8
  val TilePixels: Long = Block.toLong * Block
  val ProbeGrid = 2
  val RowGroupBytes: Long = 8L << 20
  val Layout: String = s"slope float32 z$Zoom ${Grid}x$Grid bs$Block minZoom${Zoom - 1} " +
    s"rowGroup${RowGroupBytes >> 20}m stats; probe tiff ${ProbeGrid}x$ProbeGrid"

  /** Free space a build needs: raster, TIFFs and Spark's sort spill, with
    * a wide margin. */
  val RequiredFreeBytes: Long = 2L << 30
  /** Built fixtures kept per checkout; older ones are deleted. */
  val MaxCached = 8

  final case class Origin(x0: Long, y0: Long, probeX0: Long, probeY0: Long)

  def origin(fixtureSeed: Int): Origin = {
    val r = new java.util.SplittableRandom(0x5EED0000L + fixtureSeed)
    val span = (1 << Zoom) - 1024
    Origin(512L + r.nextInt(span), 512L + r.nextInt(span),
      512L + r.nextInt(span), 512L + r.nextInt(span))
  }

  def lonOf(px: Double): Double = px / (1L << PixelZoom) * 360.0 - 180.0

  def latOf(py: Double): Double =
    math.toDegrees(math.atan(math.sinh(math.Pi * (1.0 - 2.0 * py / (1L << PixelZoom)))))

  /** Sum of the slope values over global pixels [gx0, gx1) × [gy0, gy1),
    * with min and max: plain loops, no library code but the closed-form
    * value. Exact: every value is a multiple of 1/64. */
  def pixelStats(gx0: Long, gx1: Long, gy0: Long, gy1: Long): (Long, Double, Double, Double) = {
    var sum = 0.0
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var gy = gy0
    while (gy < gy1) {
      var gx = gx0
      while (gx < gx1) {
        val v = FixtureGen.slopeValue(gx, gy)
        sum += v
        if (v < mn) mn = v
        if (v > mx) mx = v
        gx += 1
      }
      gy += 1
    }
    ((gx1 - gx0) * (gy1 - gy0), mn, mx, sum)
  }

  private def sumsFile(dir: Path) = dir.resolve("tile_sums.bin")
  private def marker(dir: Path) = dir.resolve("_READY")

  def isReady(dir: Path): Boolean = Files.isRegularFile(marker(dir))

  /** Build the fixture for `fixtureSeed` at `dir`; returns build seconds.
    * Fails with the reason when the disk is short. */
  def build(spark: SparkSession, dir: Path, fixtureSeed: Int): Double = {
    val t0 = System.nanoTime()
    val root = dir.toAbsolutePath.getParent
    Files.createDirectories(root)
    evict(root, keep = dir.getFileName.toString)
    val free = Files.getFileStore(root).getUsableSpace
    require(free >= RequiredFreeBytes,
      f"fixture build needs ${RequiredFreeBytes / 1e9}%.1f GB free under $root, " +
        f"found ${free / 1e9}%.2f GB")
    val tmp = root.resolve(s"${dir.getFileName}.tmp-${ProcessHandle.current().pid()}")
    RaquetIO.deleteTree(tmp.toString)
    Files.createDirectories(tmp)
    val o = origin(fixtureSeed)
    val meta = FixtureGen.slopeMetadata(Zoom, o.x0, o.y0, Grid, Grid, Block, minZoom = Zoom - 1)
    val native = FixtureGen.slopeTiles(spark, Zoom, o.x0, o.y0, Grid, Grid, Block)
      .localCheckpoint()
    def phase(name: String)(body: => Unit): Unit = {
      val p0 = System.nanoTime()
      body
      System.err.println(f"[rqbench] fixture $name: ${(System.nanoTime() - p0) / 1e9}%.1f s")
    }
    phase("raster")(RaquetIO.write(Pyramid.build(native, meta, Zoom - 1), meta,
      tmp.resolve("raster").toString, rowGroupBytes = RowGroupBytes))
    phase("tile sums")(writeTileSums(tmp, o))
    phase("probe tiff")(exportTiff(spark, tmp, "probe", o.probeX0, o.probeY0, ProbeGrid))
    val buildS = (System.nanoTime() - t0) / 1e9
    val props = new java.util.Properties()
    props.setProperty("layout", Layout)
    props.setProperty("fixture_seed", fixtureSeed.toString)
    props.setProperty("build_s", buildS.toString)
    val w = Files.newBufferedWriter(marker(tmp))
    try props.store(w, null) finally w.close()
    try Files.move(tmp, dir, StandardCopyOption.ATOMIC_MOVE)
    catch {
      case _: java.nio.file.FileAlreadyExistsException |
           _: java.nio.file.DirectoryNotEmptyException =>
        RaquetIO.deleteTree(tmp.toString) // another build finished first
    }
    buildS
  }

  /** A convert source: a `grid`×`grid`-tile slope window written as raquet
    * and exported once with `GeoTiff.export`. */
  private def exportTiff(spark: SparkSession, dir: Path, name: String,
      x0: Long, y0: Long, grid: Int): Unit = {
    val src = dir.resolve(s"${name}_src").toString
    val meta = FixtureGen.slopeMetadata(Zoom, x0, y0, grid, grid, Block, minZoom = Zoom)
    RaquetIO.write(FixtureGen.slopeTiles(spark, Zoom, x0, y0, grid, grid, Block), meta, src)
    GeoTiff.export(spark, src, dir.resolve(s"$name.tif").toString, overviews = false)
    RaquetIO.deleteTree(src)
  }

  /** Per-native-tile pixel sums, computed without Spark on all cores. */
  private def writeTileSums(dir: Path, o: Origin): Unit = {
    val sums = new Array[Double](Grid * Grid)
    java.util.stream.IntStream.range(0, Grid * Grid).parallel().forEach { k =>
      val gx = (o.x0 + k % Grid) * Block
      val gy = (o.y0 + k / Grid) * Block
      sums(k) = pixelStats(gx, gx + Block, gy, gy + Block)._4
    }
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      Files.newOutputStream(sumsFile(dir))))
    try sums.foreach(out.writeDouble) finally out.close()
  }

  /** Delete leftovers of dead builds and all but the newest ready fixtures. */
  private def evict(root: Path, keep: String): Unit = {
    val entries = Files.list(root).iterator().asScala.toSeq
    entries.foreach { p =>
      val name = p.getFileName.toString
      val i = name.lastIndexOf(".tmp-")
      if (i >= 0) {
        val pid = scala.util.Try(name.substring(i + 5).toLong).getOrElse(-1L)
        if (!ProcessHandle.of(pid).isPresent) RaquetIO.deleteTree(p.toString)
      }
    }
    val ready = entries.filter(p => p.getFileName.toString != keep && isReady(p))
      .sortBy(p => -Files.getLastModifiedTime(marker(p)).toMillis)
    ready.drop(MaxCached - 1).foreach(p => RaquetIO.deleteTree(p.toString))
  }

  /** Open a built fixture: its marker, tile sums and raquet metadata. */
  def load(spark: SparkSession, dir: Path): Fixture = {
    require(isReady(dir), s"no built fixture at $dir")
    val props = new java.util.Properties()
    val r = Files.newBufferedReader(marker(dir))
    try props.load(r) finally r.close()
    require(props.getProperty("layout") == Layout,
      s"fixture at $dir has layout '${props.getProperty("layout")}', expected '$Layout'")
    val fs = props.getProperty("fixture_seed").toInt
    val in = new java.io.DataInputStream(new java.io.BufferedInputStream(
      Files.newInputStream(sumsFile(dir))))
    val sums = try Array.fill(Grid * Grid)(in.readDouble()) finally in.close()
    val raster = dir.resolve("raster").toString
    Fixture(dir, fs, origin(fs), RaquetIO.readMetadata(spark, raster), sums,
      props.getProperty("build_s").toDouble)
  }
}

final case class Fixture(dir: Path, fixtureSeed: Int, origin: Fixture.Origin,
    meta: RaquetMetadata, tileSums: Array[Double], buildS: Double) {
  import Fixture._

  def raster: String = dir.resolve("raster").toString
  def probeTiff: String = dir.resolve("probe.tif").toString

  /** Native tile (tx, ty) of the grid as a quadbin cell. */
  def cell(tx: Int, ty: Int): Long =
    graft.quadbin.Quadbin.tileToCell(origin.x0 + tx, origin.y0 + ty, Zoom)

  def tileMean(k: Int): Double = tileSums(k) / TilePixels

  /** The set-up check: metadata as built, and the row count per zoom. */
  def check(spark: SparkSession): Unit = {
    val m = meta
    require(m.maxZoom == Zoom && m.minZoom == Zoom - 1 && m.blockWidth == Block &&
      m.width == Grid.toLong * Block && m.numBlocks == Grid.toLong * Grid &&
      m.bands.map(b => (b.name, b.bandType)) == Seq(("band_1", "float32")),
      s"fixture metadata differs from the layout: $m")
    val perZoom = RaquetIO.read(spark, raster).data
      .groupBy(quadbin_zoom(col("block")).as("z")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def parents(a0: Long): Long = (a0 + Grid - 1) / 2 - a0 / 2 + 1
    val expected = Map(Zoom -> Grid.toLong * Grid, (Zoom - 1) -> parents(origin.x0) * parents(origin.y0))
    require(perZoom == expected, s"fixture rows per zoom $perZoom, expected $expected")
  }

  /** On-disk bytes of the raquet's parquet files per raw pixel byte (the
    * native tiles' float32 pixels). */
  def storedBytesPerRawByte: Double =
    Bytes.parquetBytes(java.nio.file.Paths.get(raster)).toDouble / (Grid.toLong * Grid * TilePixels * 4)
}

object Bytes {
  /** Total size of the `.parquet` files under `p` (a file or a directory). */
  def parquetBytes(p: Path): Long =
    if (Files.isRegularFile(p)) Files.size(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .map(f => Files.size(f)).sum
      finally s.close()
    }

  def parquetFiles(p: Path): Seq[Path] =
    if (Files.isRegularFile(p)) Seq(p)
    else {
      val s = Files.walk(p)
      try s.iterator().asScala
        .filter(f => Files.isRegularFile(f) && f.getFileName.toString.endsWith(".parquet"))
        .toVector
      finally s.close()
    }
}
