package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.RaquetMetadata

/** Focal (neighborhood) raster operators — beyond the reference, which has
  * no cross-tile map algebra. A 3×3 focal statistic needs one pixel of
  * context past every tile edge, which in a tile-per-row table means a HALO
  * EXCHANGE between the 8 neighboring rows.
  *
  * Scale shape: each tile decodes ONCE and emits only its 4 edge strips +
  * 4 corner pixels (~2(w+h)+4 of w·h pixels ≈ 3% for 256² tiles) keyed by
  * the neighbor that needs them; one hash aggregate groups the ≤8 strips
  * per target; the strips then join back to the original rows, so the
  * shuffle carries the compressed blobs once plus the tiny strips — never
  * 9× the raster, never a decoded-pixel shuffle of tile interiors. The
  * per-tile window computations are plan-time kernel expressions
  * ([[org.apache.spark.sql.graft.RqFns.focalMean]],
  * [[org.apache.spark.sql.graft.RqFns.focalSlope]]).
  */
object Focal {

  /** Float64 band kernel describing every focal output band (gzip blob,
    * physical values, NaN = no valid window) — decode focal results with
    * `rq_decode(col, Focal.outKernel(meta))`, or write them back as a
    * first-class raster via [[outMeta]]. */
  def outKernel(meta: RaquetMetadata): graft.raquet.BandKernel =
    graft.raquet.BandKernel("float64", Double.NaN,
      meta.blockWidth, meta.blockHeight, 1.0, 0.0)

  /** Derived-raster metadata for focal output written via RaquetIO.write:
    * the source grid with each output band re-typed float64/no-nodata
    * (NaN pixels carry the missing-window mask). */
  def outMeta(meta: RaquetMetadata, bandNames: Seq[String]): RaquetMetadata =
    meta.copy(
      compression = Some("gzip"),
      bandLayout = "sequential",
      bands = bandNames.map(n => graft.raquet.BandMeta(
        name = n, bandType = "float64", nodata = None,
        scale = None, offset = None, colorinterp = None, colortable = None)))

  /** 3×3 nodata-aware focal mean over every native-zoom tile of a raquet
    * table. Output: (block, vals) with vals a FIRST-CLASS float64 band
    * blob ([[outKernel]] decodes it) of w×h physical-value means;
    * raster-edge windows truncate (mean over in-raster neighbors),
    * matching GIS "ignore nodata" focal semantics. */
  def focalMean3x3(data: DataFrame, meta: RaquetMetadata, band: String): DataFrame =
    withHalos(data, meta, band)
      .select(col("block"),
        rq_focal_mean(col(band), col("halos"), meta, band).as("vals"))

  /** gdal_fillnodata-style hole filling over every native-zoom tile:
    * valid pixels pass through; nodata pixels become the IDW mean of
    * their valid 3×3 neighbors (weight 1 edge, 1/√2 diagonal), NaN when
    * the whole window is invalid. `rounds` > 1 closes larger holes by
    * extending the fill front one pixel per pass — the re-runs thread
    * the DERIVED float64 metadata ([[outMeta]]) internally, because the
    * first pass re-types the band (a caller re-invoking with the source
    * `meta` would decode the float64 blob with the wrong type/scale/
    * nodata — the exact trap [[proximity]] avoids the same way). Same
    * halo exchange as [[focalMean3x3]]: only edge strips shuffle;
    * localCheckpoint between rounds stops the 2^k re-execution of the
    * doubly-referenced halo input. */
  def fillNodata3x3(data: DataFrame, meta: RaquetMetadata, band: String,
      rounds: Int = 1): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    var cur = withHalos(data, meta, band)
      .select(col("block"),
        rq_fill_nodata(col(band), col("halos"), meta, band).as(band))
    if (rounds > 1) {
      val dMeta = outMeta(meta, Seq(band))
      cur = cur.localCheckpoint()
      for (_ <- 2 to rounds)
        cur = withHalos(cur, dMeta, band)
          .select(col("block"),
            rq_fill_nodata(col(band), col("halos"), dMeta, band).as(band))
          .localCheckpoint()
    }
    cur.select(col("block"), col(band).as("vals"))
  }

  /** gdal_proximity-style chamfer-(1, √2) distance transform: per-pixel
    * distance (in pixel units) to the nearest VALID pixel whose physical
    * value equals `target`, exact along paths of ≤ `rounds` king moves —
    * pixels farther than the relaxation horizon stay +∞ (null after
    * decode). ITERATIVE halo exchange: each round is one cross-tile
    * strip shuffle over the float64 distance raster, so the wavefront
    * advances one pixel per round and total cost is rounds × (one focal
    * pass) — never a global all-pixels shuffle. min is order-independent,
    * so every distance double is exactly SQL-replayable. */
  def proximity(data: DataFrame, meta: RaquetMetadata, band: String,
      target: Double, rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds must be >= 1, got $rounds")
    val z = meta.maxZoom
    val dMeta = outMeta(meta, Seq(band))
    // localCheckpoint between rounds: withHalos references its input twice
    // (strip emission + the join back), so an unchecked chain re-executes
    // the whole prefix 2^k times — measured 18 s vs 4 s for 3 rounds on
    // the 1,024-tile bench raster. One blob per tile: checkpoint is cheap.
    // NOT repartitioned to session width: widening the rounds from the
    // 17-task scan split count to 32 was measured WORSE (2.44→2.78 s/rep,
    // per-round CPU doubled — the hash scatter broke the file-ordered
    // spatial locality the strip/relax stages run at), so the rounds
    // keep the scan-inherited partitioning
    var d = data
      .filter(col("block") =!= 0L && quadbin_zoom(col("block")) === z)
      .select(col("block"),
        rq_chamfer_seed(col(band), meta, band, target).as(band))
      .localCheckpoint()
    for (_ <- 1 to rounds)
      d = withHalos(d, dMeta, band)
        .select(col("block"),
          rq_chamfer_relax(col(band), col("halos"), dMeta, band).as(band))
        .localCheckpoint()
    d.select(col("block"), col(band).as("vals"))
  }

  /** Horn's-method slope in degrees over every native-zoom tile ([[outKernel]]
    * float64 blob output); NaN where the window has any missing/nodata cell
    * (strict GIS convention). `cell` is the ground distance per pixel in
    * value units. */
  def focalSlope3x3(data: DataFrame, meta: RaquetMetadata, band: String,
      cell: Double = 1.0, alg: String = "horn"): DataFrame = {
    require(alg == "horn" || alg == "zt",
      s"slope alg must be horn or zt (ZevenbergenThorne), got $alg")
    withHalos(data, meta, band)
      .select(col("block"),
        rq_focal_slope(col(band), col("halos"), meta, band, cell,
          zt = alg == "zt").as("vals"))
  }

  /** Slope + aspect + hillshade in one window pass ([[focalSlope3x3]]'s
    * strict-window semantics; GDAL-style defaults: sun azimuth 315°,
    * altitude 45°). Output: (block, t) with t.slope / t.aspect /
    * t.hillshade float64 band blobs ([[outKernel]] decodes each). */
  def focalTerrain3x3(data: DataFrame, meta: RaquetMetadata, band: String,
      cell: Double = 1.0, azimuthDeg: Double = 315.0,
      altitudeDeg: Double = 45.0): DataFrame =
    withHalos(data, meta, band)
      .select(col("block"),
        rq_focal_terrain(col(band), col("halos"), meta, band, cell,
          azimuthDeg, altitudeDeg).as("t"))

  /** gdaldem's MULTIDIRECTIONAL hillshade (`-multidirectional`, Mark 1992):
    * four sun azimuths 225/270/315/360° weighted by sin²(aspect − azimuth),
    * normalized by the exact weight sum 2. Same strict-window halo exchange
    * as [[focalTerrain3x3]]; output (block, vals) float64 blobs. */
  def focalHillshadeMd3x3(data: DataFrame, meta: RaquetMetadata, band: String,
      cell: Double = 1.0, altitudeDeg: Double = 45.0): DataFrame =
    withHalos(data, meta, band)
      .select(col("block"),
        rq_focal_hillshade_md(col(band), col("halos"), meta, band, cell,
          altitudeDeg).as("vals"))

  /** TPI + TRI (Riley) + roughness in one window pass — the rest of the
    * gdaldem family ([[focalTerrain3x3]] covers slope/aspect/hillshade).
    * Strict all-9-cells windows like slope; output (block, t) with
    * t.tpi / t.tri / t.roughness float64 band blobs. */
  def focalTpi3x3(data: DataFrame, meta: RaquetMetadata, band: String): DataFrame =
    withHalos(data, meta, band)
      .select(col("block"),
        rq_focal_tpi(col(band), col("halos"), meta, band).as("t"))

  /** Contour segments at `level` over the WHOLE dataset, cross-tile cells
    * included: the same halo exchange as the focal statistics supplies
    * the east/south neighbor pixels, and each cell is owned by the tile
    * holding its top-left pixel — every cell of the raster is contoured
    * exactly once, with no stitching pass. Output: (block, segments)
    * with segments ARRAY<ARRAY<DOUBLE>> of [x1,y1,x2,y2] in the owning
    * tile's pixel frame (boundary cells reach x = w / y = h). */
  def contour(data: DataFrame, meta: RaquetMetadata, band: String,
      level: Double): DataFrame =
    withHalos(data, meta, band)
      .select(col("block"),
        rq_focal_contour(col(band), col("halos"), meta, band, level)
          .as("segments"))

  /** Native tiles left-joined with their collected halo strips (column
    * `halos`; NULL for an isolated tile). Shared with [[Regions]]'
    * polygonize segment kernel. */
  private[operators] def withHalos(data: DataFrame, meta: RaquetMetadata,
      band: String): DataFrame = {
    val w = meta.blockWidth
    val h = meta.blockHeight
    val z = meta.maxZoom
    val native = data
      .filter(col("block") =!= 0L && quadbin_zoom(col("block")) === z)
    val dec = native.select(
      quadbin_tile_x(col("block")).as("tx"),
      quadbin_tile_y(col("block")).as("ty"),
      rq_decode(col(band), meta, band).as("dec"))
    // strip content per label (dx, dy) = source minus target: the source's
    // edge facing the target. Bracket indexing is 0-based, slice 1-based.
    def strip(dx: Int, dy: Int): Column = (dx, dy) match {
      case (-1, 0)  => expr(s"transform(sequence(0, ${h - 1}), r -> dec[r * $w + ${w - 1}])")
      case (1, 0)   => expr(s"transform(sequence(0, ${h - 1}), r -> dec[r * $w])")
      case (0, -1)  => expr(s"slice(dec, ${w * (h - 1) + 1}, $w)")
      case (0, 1)   => expr(s"slice(dec, 1, $w)")
      case (-1, -1) => array(expr(s"dec[${h * w - 1}]"))
      case (1, -1)  => array(expr(s"dec[${w * (h - 1)}]"))
      case (-1, 1)  => array(expr(s"dec[${w - 1}]"))
      case (1, 1)   => array(expr("dec[0]"))
      case other    => throw new IllegalArgumentException(other.toString)
    }
    val labels = for { dx <- -1 to 1; dy <- -1 to 1; if dx != 0 || dy != 0 }
      yield (dx, dy)
    val contrib = dec
      // one explode over the 8 pre-sliced strips: the tile decodes once here
      .select(explode(array(labels.map { case (dx, dy) =>
        struct(
          (col("tx") - dx).as("ntx"), (col("ty") - dy).as("nty"),
          lit(dx).as("dx"), lit(dy).as("dy"), strip(dx, dy).as("vals"))
      }: _*)).as("c"))
      .select(col("c.ntx"), col("c.nty"), col("c.dx"), col("c.dy"), col("c.vals"))
      // drop targets outside the tile grid BEFORE forming cell ids: out-of-
      // range coords must never reach the Morton encoder
      .filter(col("ntx") >= 0 && col("ntx") < (1L << z) &&
        col("nty") >= 0 && col("nty") < (1L << z))
      .select(quadbin_from_tile(col("ntx"), col("nty"), lit(z)).as("target"),
        col("dx"), col("dy"), col("vals"))
    val halos = contrib
      .groupBy(col("target"))
      .agg(collect_list(struct(col("dx"), col("dy"), col("vals"))).as("halos"))
    native.join(halos, native("block") === halos("target"), "left")
  }
}
