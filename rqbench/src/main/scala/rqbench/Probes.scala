package rqbench

import java.nio.file.Path
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.geo.Wkt
import graft.operators.{Focal, Regions}
import graft.raquet.{BandKernel, Downsample, GeoTiff, Maintenance, ParquetFooter,
  PixelCodec, RaquetIO}

import Fixture.{Block, Grid, TilePixels, Zoom}

/** Layer probes for the traced run. The codec and kernel probes call the
  * library's public per-tile functions on one thread, without Spark, on a
  * seeded sample of fixture tiles. The operator probes call each operator
  * once on a fixed small input and count the Spark jobs it ran. */
object Probes {

  val BudgetMs = 400.0
  /** Reclassify breaks 4 slope units apart (16 classes) and the sieve's
    * minimum region size, for the region-analysis and sieve probes. */
  val Breaks: Array[Double] = Array.tabulate(15)(k => 4.0 * (k + 1))
  val Classes: Array[Double] = Array.tabulate(16)(k => (k + 1).toDouble)
  val MinPixels = 100L
  /** Calls [[operators]] makes; each counts as an attempted op. */
  val OperatorCalls = 4

  /** Calls per second of `body` on this thread, after a warm-up of at
    * least 200 ms and 20 calls; measured over at least [[BudgetMs]] and 20
    * calls. */
  def rate(body: Int => Double): Double = {
    var sink = 0.0
    var i = 0
    val warm = System.nanoTime() + 200000000L
    while (i < 20 || System.nanoTime() < warm) { sink += body(i); i += 1 }
    val t0 = System.nanoTime()
    val end = t0 + (BudgetMs * 1e6).toLong
    var n = 0
    while (n < 20 || System.nanoTime() < end) { sink += body(i + n); n += 1 }
    val r = n / ((System.nanoTime() - t0) / 1e9)
    if (sink == 42.4242) System.err.print("") // keeps the results live
    r
  }

  def codecAndKernel(spark: SparkSession, fx: Fixture, seed: Long): Seq[(String, Double)] = {
    val rnd = new SplittableRandom(seed ^ 0x51AB1EL)
    val picks = Seq.fill(32)(rnd.nextInt(Grid * Grid)).distinct
    val rows = RaquetIO.read(spark, fx.raster).data
      .filter(col("block").isin(picks.map(k => fx.cell(k % Grid, k / Grid)): _*))
      .select("block", "band_1").collect()
    val blocks = rows.map(_.getLong(0))
    val blobs = rows.map(_.getAs[Array[Byte]](1))
    val nb = blobs.length
    val k = BandKernel(fx.meta, "band_1")
    val values = blobs.map(PixelCodec.decode(_, "float32"))
    // a seeded pixel centre per tile, and a box over its left part
    val (lons, lats, clips) = blocks.map { b =>
      val gx = graft.quadbin.Quadbin.tileX(b) * Block
      val gy = graft.quadbin.Quadbin.tileY(b) * Block
      val cut = 16 + rnd.nextInt(Block - 32)
      val (w, e) = (Fixture.lonOf(gx - 1.0), Fixture.lonOf(gx + cut.toDouble))
      val (n, s) = (Fixture.latOf(gy - 1.0), Fixture.latOf(gy + Block + 1.0))
      (Fixture.lonOf(gx + rnd.nextInt(Block) + 0.5), Fixture.latOf(gy + rnd.nextInt(Block) + 0.5),
        Wkt.parse(s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"))
    }.unzip3
    val classed = blobs.map(k.reclassify(_, Breaks, Classes))
    val inflate = rate(i => PixelCodec.gzipDecompress(blobs(i % nb)).length)
    Seq(
      "PixelCodec.inflate_tiles_per_s" -> inflate,
      "PixelCodec.decode_tiles_per_s" -> rate(i => PixelCodec.decode(blobs(i % nb), "float32")(0)),
      "PixelCodec.fused_stats_tiles_per_s" ->
        rate(i => PixelCodec.fusedStats(blobs(i % nb), "float32", Double.NaN)(0)),
      "PixelCodec.encode_tiles_per_s" ->
        rate(i => PixelCodec.encode(values(i % nb), "float32", gzip = true).length),
      "PixelCodec.inflate_mb_per_s" -> inflate * TilePixels * 4 / 1e6,
      "BandKernel.value_at_per_s" ->
        rate(i => k.valueAt(blobs(i % nb), blocks(i % nb), lons(i % nb), lats(i % nb))),
      "BandKernel.clip_stats_tiles_per_s" ->
        rate(i => k.clipStats(blobs(i % nb), blocks(i % nb), clips(i % nb))(0)),
      "BandKernel.region_analysis_tiles_per_s" ->
        rate(i => k.regionAnalysis(blocks(i % nb), classed(i % nb), true, true).frags.length),
      "Downsample.parent_tile_per_s" -> rate { i =>
        Downsample.parentTile(k, blobs(i % nb), blobs((i + 1) % nb), blobs((i + 2) % nb),
          blobs((i + 3) % nb)).length
      })
  }

  /** Each operator once on a [[Fixture.ProbeGrid]]-tile input: wall seconds
    * and the jobs the tracer attributed to the call. Returns the metrics and
    * any failed check. */
  def operators(spark: SparkSession, fx: Fixture, tracer: Tracer,
      tmpDir: Path): (Seq[(String, Double)], Seq[String]) = {
    val g = Fixture.ProbeGrid
    def window(ds: RaquetIO.RaquetDataset) =
      ds.data.filter(quadbin_zoom(col("block")) === Zoom &&
        quadbin_tile_x(col("block")) < fx.origin.x0 + g &&
        quadbin_tile_y(col("block")) < fx.origin.y0 + g)
    def call[A](name: String)(body: => A): (A, Double, Double) = {
      val (a, span) = tracer.op(s"probe.$name")(id => tracer.child(id, "open", name)(body))
      (a, span.durMs / 1e3, tracer.jobsOf(span.id).size.toDouble)
    }
    val errors = Seq.newBuilder[String]
    val (sieved, sieveS, sieveJobs) = call("sieveApply") {
      val ds = RaquetIO.read(spark, fx.raster)
      val sub = window(ds).select(col("block"),
        rq_reclassify(col("band_1"), ds.meta, "band_1", Breaks, Classes).as("band_1"))
      Regions.sieveApply(sub, ds.meta, "band_1", MinPixels).count()
    }
    if (sieved != g * g * TilePixels) errors += s"probe sieveApply: $sieved pixels"
    val (tiles, focalS, focalJobs) = call("focalMean3x3") {
      val ds = RaquetIO.read(spark, fx.raster)
      Focal.focalMean3x3(window(ds), ds.meta, "band_1").count()
    }
    if (tiles != g * g) errors += s"probe focalMean3x3: $tiles tiles"
    val out = tmpDir.resolve("probe-convert.parquet")
    val (_, convertS, _) = call("convert") {
      GeoTiff.convert(spark, fx.probeTiff, out.toString, tileStats = true)
    }
    val (checks, validateS, _) = call("validate") {
      Maintenance.validate(spark, out.toString).collect()
    }
    if (checks.isEmpty || checks.exists(r => !r.getBoolean(1)))
      errors += s"probe validate: ${checks.map(_.toString).mkString(", ")}"
    val files = Bytes.parquetFiles(out)
    val rowGroups = files.map(f => ParquetFooter.inspect(f)._2).sum
    RaquetIO.deleteTree(out.toString)
    (Seq(
      "Regions.sieveApply_s" -> sieveS,
      "Regions.sieveApply_jobs" -> sieveJobs,
      "Focal.focalMean3x3_s" -> focalS,
      "Focal.focalMean3x3_jobs" -> focalJobs,
      "GeoTiff.convert_s" -> convertS,
      "Maintenance.validate_s" -> validateS,
      "ingest.output_files" -> files.size.toDouble,
      "ingest.output_row_groups" -> rowGroups.toDouble), errors.result())
  }
}
