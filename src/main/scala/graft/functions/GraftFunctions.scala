package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.graft._

import graft.raquet.{BandKernel, BandPairKernel, RaquetMetadata}

/** Scala Column API + SQL registration for the graft function family.
  *
  * Usage:
  * {{{
  *   GraftFunctions.register(spark)          // once per session, for spark.sql
  *   df.select(GraftFunctions.quadbin_zoom($"block"))   // DSL, no registration needed
  * }}}
  */
object GraftFunctions {

  private def col(e: Expression): Column = Bridge.column(e)
  private def ex(c: Column): Expression = Bridge.expression(c)

  def quadbin_from_tile(x: Column, y: Column, z: Column): Column =
    col(QuadbinFromTile(ex(x), ex(y), ex(z)))
  def quadbin_zoom(cell: Column): Column = col(QuadbinZoom(ex(cell)))
  def quadbin_tile_x(cell: Column): Column = col(QuadbinTileX(ex(cell)))
  def quadbin_tile_y(cell: Column): Column = col(QuadbinTileY(ex(cell)))
  def quadbin_ancestor(cell: Column, parentZoom: Column): Column =
    col(QuadbinAncestor(ex(cell), ex(parentZoom)))
  def quadbin_from_lonlat(lon: Column, lat: Column, z: Column): Column =
    col(QuadbinFromLonLat(ex(lon), ex(lat), ex(z)))
  def quadbin_bounds(cell: Column): Column = col(QuadbinBounds(ex(cell)))
  def quadbin_is_valid(cell: Column): Column = col(QuadbinIsValid(ex(cell)))

  // --- raster surface (kernel resolved at plan time from parsed metadata;
  // each function is one RqFns table entry — see RqFn for the contract) ---

  private def call(fn: RqFn, args: Column*): Column = col(fn(args.map(ex): _*))
  private def pair(meta: RaquetMetadata, nameA: String, nameB: String) =
    BandPairKernel(BandKernel(meta, nameA), BandKernel(meta, nameB))

  def rq_decode(band: Column, meta: RaquetMetadata, name: String): Column =
    rq_decode(band, BandKernel(meta, name))
  /** Kernel-direct decode for tiles created in-plan (e.g. rq_rasterize)
    * where no dataset metadata exists. */
  def rq_decode(band: Column, kernel: BandKernel): Column =
    call(RqFns.decode(kernel), band)
  def rq_summary_stats(band: Column, meta: RaquetMetadata, name: String): Column =
    call(RqFns.summaryStats(BandKernel(meta, name)), band)
  def rq_raster_value(band: Column, block: Column, lon: Column, lat: Column,
      meta: RaquetMetadata, name: String): Column =
    call(RqFns.rasterValue(BandKernel(meta, name)), band, block, lon, lat)
  def rq_reclassify(band: Column, meta: RaquetMetadata, name: String,
      breaks: Array[Double], classes: Array[Double]): Column =
    call(RqFns.reclassify(BandKernel(meta, name), breaks, classes), band)
  def rq_composite(a: Column, b: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.composite(BandKernel(meta, name)), a, b)
  def rq_translate(band: Column, meta: RaquetMetadata, name: String,
      outDtype: String, outNodata: Double, a: Double, b: Double): Column =
    call(RqFns.translate(BandKernel(meta, name), outDtype, outNodata, a, b), band)

  def rq_brovey(pan: Column, mi: Column, mj: Column, meta: RaquetMetadata,
      panBand: String, miBand: String, mjBand: String): Column =
    call(RqFns.brovey(BandKernel(meta, panBand), BandKernel(meta, miBand),
      BandKernel(meta, mjBand)), pan, mi, mj)

  def rq_contour(band: Column, meta: RaquetMetadata, name: String,
      level: Double): Column =
    call(RqFns.contour(BandKernel(meta, name), level), band)
  def rq_focal_contour(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, level: Double): Column =
    call(RqFns.focalContour(BandKernel(meta, name), level), band, halos)
  def rq_rasterize(block: Column, zones: Column, kernel: BandKernel): Column =
    call(RqFns.rasterize(kernel), block, zones)
  def rq_idw_grid(block: Column, points: Column, kernel: BandKernel,
      radius: Long): Column =
    call(RqFns.idwGrid(kernel, radius), block, points)
  def rq_grid_stat(block: Column, points: Column, kernel: BandKernel,
      radius: Long, mode: Int): Column =
    call(RqFns.gridStat(kernel, radius, mode), block, points)
  def rq_region_label(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.regionLabel(BandKernel(meta, name)), block, band)
  def rq_region_strips(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.regionStrips(BandKernel(meta, name)), block, band)
  def rq_region_sizes(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.regionSizes(BandKernel(meta, name)), block, band)
  def rq_region_neighbors(block: Column, band: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.regionNeighbors(BandKernel(meta, name)), block, band)
  /** Per-tile label-blob remap through an O(1) hash table — see
    * [[org.apache.spark.sql.graft.RqFns.labelRemap]]. */
  def rq_label_remap(lab: Column, kv: Column, kernel: BandKernel,
      asLong: Boolean): Column =
    call(RqFns.labelRemap(kernel, asLong), lab, kv)
  /** Two-output label remap — see
    * [[org.apache.spark.sql.graft.RqFns.labelRemap2]]. */
  def rq_label_remap2(lab: Column, kv: Column, kernel: BandKernel): Column =
    call(RqFns.labelRemap2(kernel), lab, kv)
  /** One observer's full viewshed verdict set from its dense disk —
    * see [[org.apache.spark.sql.graft.RqViewshedDisk]]. */
  def rq_viewshed_disk(entries: Column, oh: Column, ox: Column, oy: Column,
      radius: Int): Column =
    col(org.apache.spark.sql.graft.RqViewshedDisk(ex(entries), ex(oh),
      ex(ox), ex(oy), radius))
  /** Fused strips+frags(+nbrs/+label) from ONE decode + union-find per
    * tile — see [[org.apache.spark.sql.graft.RqFns.regionAnalysis]]. */
  def rq_region_analysis(block: Column, band: Column, meta: RaquetMetadata,
      name: String, withNeighbors: Boolean = false,
      withLabel: Boolean = false): Column =
    call(RqFns.regionAnalysis(BandKernel(meta, name), withNeighbors, withLabel),
      block, band)
  def rq_region_segments(block: Column, band: Column, halos: Column,
      meta: RaquetMetadata, name: String): Column =
    call(RqFns.regionSegments(BandKernel(meta, name)), block, band, halos)
  def rq_histogram(band: Column, meta: RaquetMetadata, name: String,
      min: Double, max: Double, buckets: Int): Column =
    call(RqFns.histogram(BandKernel(meta, name), min, max, buckets), band)
  def rq_child_tile(band: Column, quadrant: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.childTile(BandKernel(meta, name)), band, quadrant)
  def rq_clip_stats(band: Column, block: Column, meta: RaquetMetadata,
      name: String, wkt: String): Column =
    call(RqFns.clipStats(BandKernel(meta, name), wkt), band, block)
  def rq_normalized_difference(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String): Column =
    call(RqFns.normalizedDifference(pair(meta, nameA, nameB)), a, b)
  def rq_clip(band: Column, block: Column, meta: RaquetMetadata,
      name: String, wkt: String): Column =
    call(RqFns.clip(BandKernel(meta, name), wkt), band, block)
  def rq_focal_mean(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.focalMean(BandKernel(meta, name)), band, halos)
  def rq_fill_nodata(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.fillNodata(BandKernel(meta, name)), band, halos)
  def rq_chamfer_seed(band: Column, meta: RaquetMetadata, name: String,
      target: Double): Column =
    call(RqFns.chamferSeed(BandKernel(meta, name), target), band)
  def rq_chamfer_relax(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.chamferRelax(BandKernel(meta, name)), band, halos)
  def rq_focal_slope(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, cell: Double, zt: Boolean = false): Column =
    call(RqFns.focalSlope(BandKernel(meta, name), cell, zt), band, halos)
  def rq_focal_terrain(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, cell: Double, azimuthDeg: Double,
      altitudeDeg: Double): Column =
    call(RqFns.focalTerrain(BandKernel(meta, name), cell, azimuthDeg, altitudeDeg),
      band, halos)
  def rq_focal_hillshade_md(band: Column, halos: Column, meta: RaquetMetadata,
      name: String, cell: Double, altitudeDeg: Double): Column =
    call(RqFns.focalHillshadeMd(BandKernel(meta, name), cell, altitudeDeg), band, halos)
  def rq_focal_tpi(band: Column, halos: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.focalTpi(BandKernel(meta, name)), band, halos)
  def rq_color_relief(band: Column, meta: RaquetMetadata, name: String,
      breaks: Seq[Double], colors: Seq[(Int, Int, Int)]): Column =
    call(RqFns.colorRelief(BandKernel(meta, name), breaks, colors), band)
  def rq_normalized_difference_stats(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String): Column =
    call(RqFns.ndStats(pair(meta, nameA, nameB)), a, b)
  def st_quadbin_intersects(block: Column, wkt: String): Column =
    col(QuadbinIntersects(ex(block), wkt))
  def st_contains(wkt: Column, lon: Column, lat: Column): Column =
    call(RqFns.contains, wkt, lon, lat)
  def rq_temporal_fit(series: Column, meta: RaquetMetadata,
      name: String): Column =
    call(RqFns.temporalFit(BandKernel(meta, name)), series)
  def rq_band_math(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String, op: String): Column =
    call(RqFns.bandMath(pair(meta, nameA, nameB), op), a, b)
  /** Kernel-pair form: map algebra across bands of DIFFERENT datasets /
    * dtypes (e.g. a source band vs a float64 derived composite). */
  def rq_band_math(a: Column, b: Column, kernelA: BandKernel,
      kernelB: BandKernel, op: String): Column =
    call(RqFns.bandMath(BandPairKernel(kernelA, kernelB), op), a, b)
  def rq_band_math_stats(a: Column, b: Column, meta: RaquetMetadata,
      nameA: String, nameB: String, op: String): Column =
    call(RqFns.bandMathStats(pair(meta, nameA, nameB), op), a, b)
  def quadbin_in_ranges(block: Column, ranges: Array[(Long, Long)]): Column =
    col(QuadbinInRanges(ex(block), ranges.map(_._1), ranges.map(_._2)))
  def st_polyfill(wkt: String, zoom: Column, mode: String = "intersects"): Column =
    call(RqFns.polyfill(wkt, mode), zoom)
  /** Polygon-table form: WKT as a column (zonal joins). */
  def st_polyfill_col(wkt: Column, zoom: Column,
      mode: String = "intersects"): Column =
    call(RqFns.polyfillCol(mode), wkt, zoom)
  /** Zonal form: WKT as a column. */
  def rq_clip_stats_col(band: Column, block: Column, wkt: Column,
      meta: RaquetMetadata, name: String): Column =
    call(RqFns.clipStatsCol(BandKernel(meta, name)), band, block, wkt)
  /** Zonal histogram form: per-(tile, zone) mergeable bucket counts. */
  def rq_clip_histogram_col(band: Column, block: Column, wkt: Column,
      meta: RaquetMetadata, name: String, min: Double, max: Double,
      buckets: Int): Column =
    call(RqFns.clipHistogramCol(BandKernel(meta, name), min, max, buckets),
      band, block, wkt)
  /** Multi-zone histogram form: one decode per tile for a zone LIST. */
  def rq_zonal_histograms(band: Column, block: Column, zones: Column,
      meta: RaquetMetadata, name: String, min: Double, max: Double,
      buckets: Int): Column =
    call(RqFns.zonalHistograms(BandKernel(meta, name), min, max, buckets),
      band, block, zones)

  /** Exact partial→final stats merge (A3) over `rq_summary_stats` structs —
    * a declarative aggregate (codegen'd hash agg, primitive buffers). */
  def rq_stats_merge(stats: Column): Column =
    col(RqStatsMerge(ex(stats)).toAggregateExpression())

  /** IVF coarse assignment: the vector's inverted-list id from a plan-time
    * codebook (codegen'd tight loop, no UDF). */
  def vec_ivf_cell(embedding: Column, cb: IvfCodebook): Column =
    col(VecIvfCell(ex(embedding), cb))

  /** The nprobe nearest list ids for a query vector (IVF probe side). */
  def vec_ivf_probe_cells(embedding: Column, cb: IvfCodebook, nprobe: Int): Column =
    col(VecIvfProbeCells(ex(embedding), cb, nprobe))

  /** Pyramid parent-tile build (M5) as a partial-mergeable aggregate: group
    * by `quadbin_ancestor(block, z)` and fold each child into its quadrant
    * map-side, so Morton-sorted inputs shuffle one buffer per parent. */
  def rq_parent_tile(block: Column, band: Column, meta: RaquetMetadata,
      name: String, resampling: String = "average"): Column =
    col(RqParentTile(ex(block), ex(band), BandKernel(meta, name), resampling)
      .toAggregateExpression())

  /** Convolution pyramid parent from collected child blobs + halo strips
    * (cubic / cubicspline / lanczos — [[graft.raquet.Pyramid.buildLevel]]'s
    * halo path assembles the contribution list). */
  def rq_conv_parent(contribs: Column, meta: RaquetMetadata, name: String,
      resampling: String): Column =
    col(RqConvParent(ex(contribs), BandKernel(meta, name), resampling))

  /** Per-pixel composite across a tile stack's time axis (group by block):
    * op ∈ mean | sum | min | max | count. Emits a float64 gzip band blob
    * ([[graft.operators.Focal.outKernel]] decodes it). */
  def rq_temporal_composite(band: Column, meta: RaquetMetadata, name: String,
      op: String): Column =
    col(RqTemporalComposite(ex(band), BandKernel(meta, name), op)
      .toAggregateExpression())
  def rq_mask_range(band: Column, kernel: BandKernel, lo: Double,
      hi: Double): Column =
    call(RqFns.maskRange(kernel, lo, hi), band)
  def rq_mask_range(band: Column, meta: RaquetMetadata, name: String,
      lo: Double, hi: Double): Column =
    rq_mask_range(band, BandKernel(meta, name), lo, hi)
  /** Linear time-axis gap fill of a sorted (t, blob) stack. */
  def rq_temporal_fill(stack: Column, kernel: BandKernel): Column =
    call(RqFns.temporalFill(kernel), stack)
  /** Theil–Sen slope + Mann–Kendall S/tau of a sorted (t, blob) stack. */
  def rq_theilsen_mk(stack: Column, kernel: BandKernel): Column =
    call(RqFns.theilSenMk(kernel), stack)
  /** Per-pixel OLS trend across a tile stack's time axis (group by
    * block): STRUCT(slope, intercept) of float64 gzip band blobs. */
  def rq_temporal_trend(band: Column, time: Column, kernel: BandKernel): Column =
    col(RqTemporalTrend(ex(band), ex(time), kernel).toAggregateExpression())
  def rq_temporal_trend(band: Column, time: Column, meta: RaquetMetadata,
      name: String): Column =
    rq_temporal_trend(band, time, BandKernel(meta, name))

  /** One-pass exact covariance accumulator over ARRAY<BIGINT> quantized
    * vectors: upper-triangle product sums + marginals in one primitive
    * tight loop per row, one ~25 KB partial per map partition. */
  def cov_accum(vec: Column, dim: Int): Column =
    col(CovarianceAccum(ex(vec), dim).toAggregateExpression())

  // --- CF time + multimodal ---

  def cf_to_timestamp(value: Column, units: String,
      calendar: String = "standard"): Column =
    col(CfToTimestamp(ex(value), units, calendar))
  def rq_inflate(bin: Column): Column = col(RqInflate(ex(bin)))
  def mm_image_stats(bin: Column): Column = col(MmImageStats(ex(bin)))
  def mm_resize(bin: Column, w2: Column, h2: Column,
      srcWidth: Int, srcHeight: Int, channels: Int): Column =
    col(MmResize(ex(bin), ex(w2), ex(h2), srcWidth, srcHeight, channels))
  def mm_deinterleave(bin: Column, band: Int, nBands: Int,
      bytesPerSample: Int = 1): Column =
    col(MmDeinterleave(ex(bin), band, nBands, bytesPerSample))
  def mm_jpeg_pixels(bin: Column): Column = col(MmJpegPixels(ex(bin)))
  def mm_webp_encode(bin: Column, width: Int, height: Int, channels: Int): Column =
    col(MmWebpEncode(ex(bin), width, height, channels))
  def mm_webp_pixels(bin: Column, channels: Int): Column =
    col(MmWebpPixels(ex(bin), channels))
  def mm_webp_lossy(bin: Column, width: Int, height: Int, channels: Int,
      quality: Int): Column =
    col(MmWebpLossy(ex(bin), width, height, channels, quality))

  // --- vector measures + WKB bridge ---

  def st_area(wkt: Column): Column = col(StArea(ex(wkt)))
  def st_perimeter(wkt: Column): Column = col(StPerimeter(ex(wkt)))
  def st_centroid(wkt: Column): Column = col(StCentroid(ex(wkt)))
  def st_geom_from_wkb(bin: Column): Column = col(StGeomFromWkb(ex(bin)))
  def st_as_wkb(wkt: Column): Column = col(StAsWkb(ex(wkt)))
  def st_geom_from_geojson(s: Column): Column = col(StGeomFromGeojson(ex(s)))
  def st_as_geojson(wkt: Column): Column = col(StAsGeojson(ex(wkt)))
  def st_simplify(wkt: Column, tolerance: Double): Column =
    col(StSimplify(ex(wkt), tolerance))
  def st_npoints(wkt: Column): Column = col(StNPoints(ex(wkt)))
  def topk_sketch(item: Column, capacity: Int, k: Int): Column =
    col(TopKSketch(ex(item), capacity, k).toAggregateExpression())
  def bloom_agg(h: Column, numBits: Int, numHashes: Int): Column =
    col(BloomAgg(ex(h), numBits, numHashes).toAggregateExpression())
  def bloom_might_contain(filter: Column, h: Column): Column =
    col(BloomMightContain(ex(filter), ex(h)))
  /** Merges encode with US/RS separators so corpus-learned operands may
    * contain ',' (a comma-joined spec would mis-split them — the
    * SQL-literal form remains available via `rq_bpe_tokens`). Operands
    * containing ' ' are rejected by the kernel: words are space-split, so
    * such an operand could never match a token. */
  def bpe_tokens(text: Column, merges: Seq[(String, String)]): Column = {
    import org.apache.spark.sql.graft.BpeKernel.{OpSep, RuleSep}
    merges.foreach { case (a, b) =>
      require(a.indexOf(OpSep) < 0 && a.indexOf(RuleSep) < 0 &&
        b.indexOf(OpSep) < 0 && b.indexOf(RuleSep) < 0,
        "BPE merge operands may not contain the US/RS separator chars")
    }
    col(BpeTokens(ex(text),
      merges.map { case (a, b) => s"$a$OpSep$b" }.mkString(RuleSep.toString)))
  }

  /** WordPiece vocab pieces join with the RS separator (pieces may
    * contain anything except spaces/RS — the kernel validates). */
  def wordpiece_tokens(text: Column, vocab: Seq[String]): Column = {
    import org.apache.spark.sql.graft.BpeKernel.RuleSep
    vocab.foreach { p =>
      require(p.indexOf(RuleSep) < 0,
        "WordPiece vocab pieces may not contain the RS separator char")
    }
    col(WordPieceTokens(ex(text), vocab.mkString(RuleSep.toString)))
  }

  def mm_u8_sum(bin: Column): Column = col(MmU8Sum(ex(bin)))
  def mm_u8_pack(values: Column): Column = col(MmU8Pack(ex(values)))
  def mm_exif_orientation(jpeg: Column): Column = col(MmExifOrientation(ex(jpeg)))
  def mm_orient(bin: Column, orientation: Column, width: Int, height: Int,
      channels: Int): Column =
    col(MmOrient(ex(bin), ex(orientation), width, height, channels))
  def mm_dhash(bin: Column, width: Int, height: Int): Column =
    col(MmDhash(ex(bin), width, height))
  def mm_webp_anim(frames: Column, width: Int, height: Int, channels: Int,
      durationMs: Int): Column =
    col(MmWebpAnimEncode(ex(frames), width, height, channels, durationMs))
  def mm_webp_anim_info(bin: Column): Column = col(MmWebpAnimInfo(ex(bin)))
  def mm_webp_frame(bin: Column, idx: Column, channels: Int): Column =
    col(MmWebpFramePixels(ex(bin), ex(idx), channels))

  // --- audio (WAV/PCM) members of the multimodal family ---

  def mm_wav_encode(samples: Column, sampleRate: Int, channels: Int,
      bits: Int): Column =
    col(MmWavEncode(ex(samples), sampleRate, channels, bits))
  def mm_wav_info(bin: Column): Column = col(MmWavInfo(ex(bin)))
  def mm_wav_stats(bin: Column, channel: Int): Column =
    col(MmWavStats(ex(bin), channel))
  def mm_wav_resample(bin: Column, dstRate: Int): Column =
    col(MmWavResample(ex(bin), dstRate))
  def mm_wav_frames(bin: Column, frameLen: Int, hop: Int, channel: Int): Column =
    col(MmWavFrames(ex(bin), frameLen, hop, channel))
  def mm_wav_trim(bin: Column, threshold: Int): Column =
    col(MmWavTrim(ex(bin), threshold))
  def mm_wav_fingerprint(bin: Column, frameLen: Int, hop: Int,
      channel: Int): Column =
    col(MmWavFingerprint(ex(bin), frameLen, hop, channel))

  // --- SQL ---
  // Raster functions bind their kernel from foldable (metadata JSON, band)
  // string args, parsed once at resolution and never per row; numeric lists
  // are CSV string literals ("64,128,192").

  private def litStr(e: Expression, what: String): String = e match {
    case Literal(v, _) if v != null => v.toString
    case other => throw new IllegalArgumentException(s"$what must be a literal, got $other")
  }
  private def litInt(e: Expression, what: String): Int = litStr(e, what).toInt
  private def litDouble(e: Expression, what: String): Double = litStr(e, what).toDouble
  private def litDoubles(e: Expression, what: String): Array[Double] =
    litStr(e, what).split(",").map(_.trim.toDouble)
  private def kernelOf(metaJson: Expression, band: Expression): BandKernel =
    BandKernel(RaquetMetadata.parse(litStr(metaJson, "metadata")), litStr(band, "band name"))
  private def pairOf(metaJson: Expression, a: Expression, b: Expression): BandPairKernel =
    BandPairKernel(kernelOf(metaJson, a), kernelOf(metaJson, b))

  /** Every SQL function by name: the one table both [[register]] and
    * [[GraftExtensions]] install. A call with the wrong number of arguments
    * fails with the function's name and the count it takes. */
  val sqlFunctions: Seq[(String, Seq[Expression] => Expression)] = {
    def f(name: String, arity: Int)(build: Seq[Expression] => Expression) =
      name -> { (args: Seq[Expression]) =>
        if (args.length != arity) throw new IllegalArgumentException(
          s"$name takes $arity arguments, got ${args.length}")
        build(args)
      }
    Seq(
      f("quadbin_from_tile", 3) { case Seq(x, y, z) => QuadbinFromTile(x, y, z) },
      f("quadbin_zoom", 1) { case Seq(c) => QuadbinZoom(c) },
      f("quadbin_tile_x", 1) { case Seq(c) => QuadbinTileX(c) },
      f("quadbin_tile_y", 1) { case Seq(c) => QuadbinTileY(c) },
      f("quadbin_ancestor", 2) { case Seq(c, p) => QuadbinAncestor(c, p) },
      f("quadbin_from_lonlat", 3) { case Seq(lon, lat, z) => QuadbinFromLonLat(lon, lat, z) },
      f("quadbin_bounds", 1) { case Seq(c) => QuadbinBounds(c) },
      f("quadbin_is_valid", 1) { case Seq(c) => QuadbinIsValid(c) },
      f("rq_decode", 3) { case Seq(b, m, n) => RqFns.decode(kernelOf(m, n))(b) },
      f("rq_summary_stats", 3) { case Seq(b, m, n) => RqFns.summaryStats(kernelOf(m, n))(b) },
      f("rq_raster_value", 6) { case Seq(b, blk, lon, lat, m, n) =>
        RqFns.rasterValue(kernelOf(m, n))(b, blk, lon, lat) },
      f("rq_clip_stats", 5) { case Seq(b, blk, m, n, w) =>
        RqFns.clipStats(kernelOf(m, n), litStr(w, "wkt"))(b, blk) },
      f("rq_clip", 5) { case Seq(b, blk, m, n, w) =>
        RqFns.clip(kernelOf(m, n), litStr(w, "wkt"))(b, blk) },
      f("rq_clip_histogram", 8) { case Seq(b, blk, w, m, n, lo, hi, k) =>
        RqFns.clipHistogramCol(kernelOf(m, n), litDouble(lo, "min"), litDouble(hi, "max"),
          litInt(k, "buckets"))(b, blk, w) },
      f("rq_normalized_difference", 5) { case Seq(a, b, m, na, nb) =>
        RqFns.normalizedDifference(pairOf(m, na, nb))(a, b) },
      f("rq_normalized_difference_stats", 5) { case Seq(a, b, m, na, nb) =>
        RqFns.ndStats(pairOf(m, na, nb))(a, b) },
      f("rq_band_math", 6) { case Seq(a, b, m, na, nb, op) =>
        RqFns.bandMath(pairOf(m, na, nb), litStr(op, "op"))(a, b) },
      f("rq_band_math_stats", 6) { case Seq(a, b, m, na, nb, op) =>
        RqFns.bandMathStats(pairOf(m, na, nb), litStr(op, "op"))(a, b) },
      f("rq_reclassify", 5) { case Seq(b, m, n, br, cl) =>
        RqFns.reclassify(kernelOf(m, n), litDoubles(br, "breaks"),
          litDoubles(cl, "classes"))(b) },
      f("rq_composite", 4) { case Seq(a, b, m, n) => RqFns.composite(kernelOf(m, n))(a, b) },
      f("rq_contour", 4) { case Seq(b, m, n, lv) =>
        RqFns.contour(kernelOf(m, n), litDouble(lv, "level"))(b) },
      f("rq_histogram", 6) { case Seq(b, m, n, lo, hi, k) =>
        RqFns.histogram(kernelOf(m, n), litDouble(lo, "min"), litDouble(hi, "max"),
          litInt(k, "buckets"))(b) },
      f("rq_rasterize", 4) { case Seq(blk, zs, m, n) => RqFns.rasterize(kernelOf(m, n))(blk, zs) },
      f("rq_temporal_composite", 4) { case Seq(b, m, n, op) =>
        RqTemporalComposite(b, kernelOf(m, n), litStr(op, "op")).toAggregateExpression() },
      f("rq_stats_merge", 1) { case Seq(s) => RqStatsMerge(s) },
      f("st_quadbin_intersects", 2) { case Seq(c, w) => QuadbinIntersects(c, litStr(w, "wkt")) },
      f("st_polyfill", 3) { case Seq(w, z, m) =>
        RqFns.polyfill(litStr(w, "wkt"), litStr(m, "mode"))(z) },
      f("st_contains", 3) { case Seq(w, x, y) => RqFns.contains(w, x, y) },
      f("cf_to_timestamp", 3) { case Seq(v, u, c) =>
        CfToTimestamp(v, litStr(u, "units"), litStr(c, "calendar")) },
      f("rq_inflate", 1) { case Seq(b) => RqInflate(b) },
      f("st_area", 1) { case Seq(w) => StArea(w) },
      f("st_perimeter", 1) { case Seq(w) => StPerimeter(w) },
      f("st_centroid", 1) { case Seq(w) => StCentroid(w) },
      f("st_geom_from_wkb", 1) { case Seq(b) => StGeomFromWkb(b) },
      f("st_as_wkb", 1) { case Seq(w) => StAsWkb(w) },
      f("st_geom_from_geojson", 1) { case Seq(s) => StGeomFromGeojson(s) },
      f("st_as_geojson", 1) { case Seq(w) => StAsGeojson(w) },
      f("st_simplify", 2) { case Seq(w, t) => StSimplify(w, litDouble(t, "tolerance")) },
      f("st_npoints", 1) { case Seq(w) => StNPoints(w) },
      f("topk_sketch", 3) { case Seq(i, cap, k) =>
        TopKSketch(i, litInt(cap, "capacity"), litInt(k, "k")).toAggregateExpression() },
      f("bloom_agg", 3) { case Seq(h, bits, k) =>
        BloomAgg(h, litInt(bits, "numBits"), litInt(k, "numHashes")).toAggregateExpression() },
      f("bloom_might_contain", 2) { case Seq(fl, h) => BloomMightContain(fl, h) },
      f("rq_bpe_tokens", 2) { case Seq(t, spec) => BpeTokens(t, litStr(spec, "merges")) },
      f("rq_wordpiece_tokens", 2) { case Seq(t, spec) =>
        WordPieceTokens(t, litStr(spec, "vocab")) },
      f("mm_image_stats", 1) { case Seq(b) => MmImageStats(b) },
      f("mm_webp_encode", 4) { case Seq(b, w, h, c) =>
        MmWebpEncode(b, litInt(w, "width"), litInt(h, "height"), litInt(c, "channels")) },
      f("mm_webp_pixels", 2) { case Seq(b, c) => MmWebpPixels(b, litInt(c, "channels")) },
      f("mm_webp_lossy", 5) { case Seq(b, w, h, c, q) =>
        MmWebpLossy(b, litInt(w, "width"), litInt(h, "height"),
          litInt(c, "channels"), litInt(q, "quality")) },
      f("mm_u8_sum", 1) { case Seq(b) => MmU8Sum(b) },
      f("mm_u8_pack", 1) { case Seq(a) => MmU8Pack(a) },
      f("mm_exif_orientation", 1) { case Seq(b) => MmExifOrientation(b) },
      f("mm_orient", 5) { case Seq(b, o, w, h, c) =>
        MmOrient(b, o, litInt(w, "width"), litInt(h, "height"), litInt(c, "channels")) },
      f("mm_webp_anim", 5) { case Seq(fr, w, h, c, d) =>
        MmWebpAnimEncode(fr, litInt(w, "width"), litInt(h, "height"),
          litInt(c, "channels"), litInt(d, "duration_ms")) },
      f("mm_webp_anim_info", 1) { case Seq(b) => MmWebpAnimInfo(b) },
      f("mm_webp_frame", 3) { case Seq(b, i, c) =>
        MmWebpFramePixels(b, i, litInt(c, "channels")) },
      f("mm_dhash", 3) { case Seq(b, w, h) => MmDhash(b, litInt(w, "width"), litInt(h, "height")) },
      f("mm_wav_encode", 4) { case Seq(s, rate, ch, bits) =>
        MmWavEncode(s, litInt(rate, "sample_rate"), litInt(ch, "channels"),
          litInt(bits, "bits")) },
      f("mm_wav_info", 1) { case Seq(b) => MmWavInfo(b) },
      f("mm_wav_stats", 2) { case Seq(b, ch) => MmWavStats(b, litInt(ch, "channel")) },
      f("mm_wav_resample", 2) { case Seq(b, rate) =>
        MmWavResample(b, litInt(rate, "target_rate")) },
      f("mm_wav_frames", 4) { case Seq(b, fl, hop, ch) =>
        MmWavFrames(b, litInt(fl, "frame_len"), litInt(hop, "hop"), litInt(ch, "channel")) },
      f("mm_wav_trim", 2) { case Seq(b, t) => MmWavTrim(b, litInt(t, "threshold")) },
      f("mm_wav_fingerprint", 4) { case Seq(b, fl, hop, ch) =>
        MmWavFingerprint(b, litInt(fl, "frame_len"), litInt(hop, "hop"),
          litInt(ch, "channel")) })
  }

  /** Register every function of [[sqlFunctions]] for use from `spark.sql`
    * in this session. Idempotent. */
  def register(spark: SparkSession): Unit =
    sqlFunctions.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry.createOrReplaceTempFunction(name, builder, "built-in")
    }
}
