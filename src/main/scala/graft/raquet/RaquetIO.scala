package graft.raquet

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.geo.Wkt
import graft.quadbin.{Polyfill, Quadbin}

/** The raquet table API: read (S1-S5), write (S9/T1). This is the surface a
  * reference user touches first (`docs/engines.md:36-52`): `read_raquet`,
  * `read_raquet_metadata`, `read_raquet_at`, spatial-filtered read.
  *
  * Scale design: spatial filters become Morton-range BETWEEN predicates on
  * the sorted `block` column, which Spark pushes into the parquet scan —
  * row-group min/max pruning then skips the untouched 99% exactly as the
  * reference's DuckDB extension does (`docs/performance.md:143-179`). The
  * metadata row is one driver-side lookup, parsed once and carried into
  * expressions as plan-time config — never re-parsed per row.
  */
object RaquetIO {

  /** A raquet dataset: data rows (metadata row excluded) + parsed metadata. */
  final case class RaquetDataset(data: DataFrame, meta: RaquetMetadata) {
    def kernel(band: String): BandKernel = BandKernel(meta, band)

    /** Band blob column regardless of layout (spec `raquet.md:40-57`):
      * sequential → the band's own column; interleaved → extract the band
      * from the `pixels` payload (gunzip or JPEG-decode, then BIP
      * de-interleave). Composes with rq_decode / rq_summary_stats etc. */
    def band(name: String): Column = {
      import graft.functions.GraftFunctions._
      if (meta.bandLayout != "interleaved") col(name)
      else {
        val idx = meta.bands.indexWhere(_.name == name)
        require(idx >= 0, s"no band $name")
        val bps = PixelCodec.bytesPerPixel(meta.bands(idx).bandType)
        // webp-lossless (VP8L) decodes via the pure-JVM WebP codec; lossy
        // both webp flavors decode: VP8L losslessly, lossy VP8 key frames
        // via the RFC 6386 decoder (reference writes webp via Pillow,
        // raster2raquet.py:813-845 — lossy VP8 unless lossless=True)
        val raw =
          if (meta.compression.contains("webp"))
            graft.functions.GraftFunctions.mm_webp_pixels(col("pixels"), meta.bands.length)
          else if (meta.compression.contains("jpeg"))
            graft.functions.GraftFunctions.mm_jpeg_pixels(col("pixels"))
          else rq_inflate(col("pixels"))
        mm_deinterleave(raw, idx, meta.bands.length, bps)
      }
    }
  }

  /** One opened path: its parquet schema and parsed metadata row, valid
    * while the path lists the same files and the session infers schemas
    * the same way. */
  private final case class Opened(files: Seq[(String, Long, Long)],
      confs: Seq[Option[String]], schema: StructType, meta: RaquetMetadata)

  /** Session confs that change what parquet schema inference returns. */
  private val SchemaConfs = Seq(
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.sources.partitionColumnTypeInference.enabled")

  /** Per-session open cache, keyed weakly by the session object: a stopped
    * or replaced session drops its entries, and `newSession()` starts cold. */
  private val opened = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Opened]]())

  /** The files under `path` as sorted (file, length, mtime) — one driver-side
    * listing, no Spark job. None when the path cannot be listed as is (a
    * glob, or a missing path: the uncached read reports it). */
  private def listing(spark: SparkSession, path: String): Option[Seq[(String, Long, Long)]] = {
    val p = new HPath(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val it = fs.listFiles(p, true)
      val b = Vector.newBuilder[(String, Long, Long)]
      while (it.hasNext) {
        val s = it.next()
        b += ((s.getPath.toString, s.getLen, s.getModificationTime))
      }
      Some(b.result().sorted)
    } catch { case _: java.io.FileNotFoundException => None }
  }

  /** Open `path`: the whole parquet table (metadata row included) and its
    * parsed metadata. A repeat open in the same session of an unchanged
    * path runs no Spark job; otherwise one schema-inference job plus one job
    * for the `block = 0` rows. Partitioned datasets carry one metadata row
    * per file; they describe the same dataset, so the first is taken — the
    * spec's own dedupe (`format-specs/raquet.md:160-175`). */
  private[raquet] def open(spark: SparkSession, path: String): (DataFrame, RaquetMetadata) = {
    val files = listing(spark, path)
    val confs = SchemaConfs.map(spark.conf.getOption)
    val byPath = opened.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Opened]())
    Option(byPath.get(path)).filter(o => files.contains(o.files) && o.confs == confs) match {
      case Some(o) => (spark.read.schema(o.schema).parquet(path), o.meta)
      case None =>
        val df = spark.read.parquet(path)
        val rows = df.filter(col("block") === 0L).select("metadata").collect()
        require(rows.nonEmpty, s"no metadata row (block=0) in $path")
        val meta = RaquetMetadata.parse(rows(0).getString(0))
        files.foreach(f => byPath.put(path, Opened(f, confs, df.schema, meta)))
        (df, meta)
    }
  }

  /** S2: fetch + parse the `block = 0` metadata row. */
  def readMetadata(spark: SparkSession, path: String): RaquetMetadata = open(spark, path)._2

  /** S1+S3: full scan, metadata row(s) excluded (`docs/engines.md:118-121`). */
  def read(spark: SparkSession, path: String): RaquetDataset = {
    val (df, meta) = open(spark, path)
    RaquetDataset(df.filter(col("block") =!= 0L), meta)
  }

  /** S4: point query — only the tile covering (lon, lat) at `zoom` (default
    * max_zoom). Sorted `block` + pushed equality = a handful of pages read. */
  def readAt(spark: SparkSession, path: String, lon: Double, lat: Double,
      zoom: Int = -1): RaquetDataset = {
    val (df, meta) = open(spark, path)
    val z = if (zoom < 0) meta.maxZoom else meta.clampZoom(zoom)
    val cell = Quadbin.fromLonLat(lon, lat, z)
    RaquetDataset(df.filter(col("block") === cell), meta)
  }

  /** OR-of-BETWEEN predicate over compacted Morton ranges. Ranges at zoom z
    * only cover zoom-z ids (zoom bits sit above the Morton bits), so no
    * residual zoom filter is needed. Reduced as a balanced tree — a
    * left-nested OR over thousands of legs overflows the stack at plan
    * conversion time. */
  def blockRangeFilter(ranges: Array[(Long, Long)]): Column = {
    if (ranges.isEmpty) return lit(false)
    var cols = ranges.map { case (lo, hi) => col("block").between(lo, hi) }.toIndexedSeq
    while (cols.length > 1)
      cols = cols.grouped(2)
        .map(g => if (g.length == 2) g(0) || g(1) else g(0)).toIndexedSeq
    cols.head
  }

  /** Parquet source filters stop translating past ~64 OR legs, so larger
    * regions keep a merged-span superset for pushdown (same budget as
    * [[org.apache.spark.sql.graft.QuadbinRangeRewrite]]). */
  private val MaxRangeLegs = 64

  /** S5: spatial-filter scan. `zoom` accepts an Int, "auto", "min", "max"
    * (spec `raquet.md:293-316`); `mode` is intersects/center/contains
    * (`docs/performance.md:118-126`).
    *
    * intersects-mode is exactly the compacted range predicate (pushdown only,
    * zero residual work). center/contains modes add a broadcast semi-join
    * against the exact cell set — bounded by the polyfill size, never a
    * shuffle of the fact table.
    */
  def readRegion(spark: SparkSession, path: String, wkt: String,
      zoom: String = "max", mode: String = Polyfill.Intersects): RaquetDataset = {
    val (base, meta) = open(spark, path)
    val geom = Wkt.parse(wkt)
    val z = resolveZoom(geom, meta, zoom)
    val ranges = Polyfill.ranges(geom, z)
    var df = base.filter(cappedExactRangeFilter(ranges))
    if (mode != Polyfill.Intersects) {
      val cells = Polyfill.cells(geom, z, mode)
      val cellDf = spark.createDataFrame(
        spark.sparkContext.parallelize(cells.toIndexedSeq.map(Row(_)), 1),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cell",
            org.apache.spark.sql.types.LongType, nullable = false))))
      df = df.join(broadcast(cellDf), col("block") === col("cell"), "left_semi")
    }
    RaquetDataset(df, meta)
  }

  private def resolveZoom(geom: graft.geo.Geom, meta: RaquetMetadata,
      zoom: String): Int = zoom match {
    case "max" => meta.maxZoom
    case "min" => meta.minZoom
    case "auto" => autoZoom(geom, meta)
    case s => meta.clampZoom(s.toInt)
  }

  /** Exact block filter over `ranges`, pushdown-capped: past [[MaxRangeLegs]]
    * legs the parquet source stops translating filters, so a merged-span
    * SUPERSET goes to the scan (row-group pruning) and the exact balanced-OR
    * stays as the post-scan residual. Never widens the row set. */
  /** Pushdown-friendly capped OR of merged spans (parquet row-group
    * pruning) AND an exact residual. Past the leg cap the residual is
    * `quadbin_in_ranges` — a binary search over the plan-time span arrays —
    * because an OR chain of hundreds of BETWEEN legs exceeds janino's
    * method-size limit and silently drops the stage out of whole-stage
    * codegen (measured ~10x on the 15 GB bench's 60,390-tile region). */
  private def cappedExactRangeFilter(ranges: Array[(Long, Long)]): Column = {
    if (ranges.length <= MaxRangeLegs) blockRangeFilter(ranges)
    else {
      var spans = ranges.toIndexedSeq
      while (spans.length > MaxRangeLegs)
        spans = spans.grouped(2).map(g => (g.head._1, g.last._2)).toIndexedSeq
      blockRangeFilter(spans.toArray) &&
        graft.functions.GraftFunctions.quadbin_in_ranges(col("block"), ranges)
    }
  }

  /** A6 stats-column fast path: per-tile stats structs for a zonal-stats
    * query, WITHOUT decoding interior tiles. The polyfill splits the cover
    * into tiles fully inside the polygon — where every pixel center is in
    * the region, so the tile's pre-aggregated `{band}_{stat}` columns (spec
    * `raquet.md:89-126`) ARE its clip stats — and boundary tiles, which
    * decode + per-pixel clip as usual. Interior tiles read a handful of
    * numeric columns instead of the ~30 KB blob, so I/O and CPU scale with
    * the region PERIMETER, not its area (at 60K tiles that's ~1% of the
    * bytes). Falls back to full decode when the dataset has no stats
    * columns. `sum_sq` on the interior branch is reconstructed from
    * mean/stddev, so the merged stddev is float-reconstructed there
    * (count/min/max/sum/mean stay exact); callers needing bit-exact stddev
    * should use the decode path.
    *
    * Returns (block, s) rows; compose with `agg(rq_stats_merge($"s"))`. */
  def regionStatsTiles(spark: SparkSession, path: String, wkt: String,
      band: String, zoom: String = "max"): DataFrame = {
    import graft.functions.GraftFunctions._
    val (base, meta) = open(spark, path)
    val geom = Wkt.parse(wkt)
    val z = resolveZoom(geom, meta, zoom)
    val statCols = Seq("count", "min", "max", "sum", "mean", "stddev")
      .map(s => s"${band}_$s")
    val hasStats = statCols.forall(base.columns.contains)
    val (interior, boundary) =
      if (hasStats) Polyfill.splitCover(geom, z)
      else (Array.empty[(Long, Long)], Polyfill.cells(geom, z))
    def clipStats(df: DataFrame) = {
      val ds = RaquetDataset(df, meta)
      df.select(col("block"),
        rq_clip_stats(ds.band(band), col("block"), meta, band, wkt).as("s"))
    }
    val boundaryDf = clipStats(
      base.filter(cappedExactRangeFilter(Polyfill.merge(boundary.map(c => (c, c))))))
    if (interior.isEmpty) boundaryDf
    else {
      val c = col(statCols.head)
      val interiorDf = base.filter(cappedExactRangeFilter(interior))
        .select(col("block"),
          when(c > 0L, struct(
            c.as("count"),
            col(s"${band}_min").as("min"),
            col(s"${band}_max").as("max"),
            col(s"${band}_sum").as("sum"),
            ((col(s"${band}_stddev") * col(s"${band}_stddev") +
              col(s"${band}_mean") * col(s"${band}_mean")) * c.cast("double"))
              .as("sum_sq"),
            col(s"${band}_mean").as("mean"),
            col(s"${band}_stddev").as("stddev"))).as("s"))
      interiorDf.unionByName(boundaryDf)
    }
  }

  /** Many-zone generalization of [[regionStatsTiles]]: per-(zone, tile)
    * stats structs for a TABLE of zones, with interior tiles answered from
    * the pre-aggregated stats columns — no decode. The zone covers resolve
    * on the driver (`Polyfill.splitCover` per zone; the zone table is small
    * by definition, which is also what makes the (zone, cell) pairs
    * broadcastable), the raster scans ONCE behind a merged-range pruning
    * filter, and each joined row takes the stats-column or decode+clip
    * branch by its interior flag — `when` branches execute conditionally in
    * codegen, so interior rows never touch the blob. Tiles inside several
    * overlapping zones appear once per zone: membership comes from the
    * join, not a partitioner. */
  def zonalStatsFastTiles(spark: SparkSession, path: String,
      zones: Seq[(Long, String)], band: String): DataFrame = {
    import graft.functions.GraftFunctions._
    val (base, meta) = open(spark, path)
    val z = meta.maxZoom
    val statCols = Seq("count", "min", "max", "sum", "mean", "stddev")
      .map(s => s"${band}_$s")
    require(statCols.forall(base.columns.contains),
      s"zonalStatsFastTiles needs the $band stats columns")
    val step = 1L << (52 - 2 * z)
    val cellRows = zones.flatMap { case (id, wkt) =>
      val (intRanges, bCells) = Polyfill.splitCover(Wkt.parse(wkt), z)
      val interior = intRanges.iterator.flatMap { case (lo, hi) =>
        // consecutive cells at one zoom differ by `step`; the low mask bits
        // are all ones in both endpoints, so plain addition walks the range
        Iterator.iterate(lo)(_ + step).takeWhile(_ <= hi)
      }
      interior.map(c => (id, c, true, None: Option[String])).toSeq ++
        bCells.map(c => (id, c, false, Some(wkt)))
    }
    val pruneRanges = Polyfill.merge(cellRows.map(r => (r._2, r._2)).toArray)
    import spark.implicits._
    val cells = broadcast(cellRows.toDF("zone_id", "cell", "interior", "zwkt"))
    val ds = RaquetDataset(base, meta)
    val c = col(statCols.head)
    base
      .filter(col("block") =!= 0L && cappedExactRangeFilter(pruneRanges))
      .join(cells, col("block") === col("cell"))
      .select(col("zone_id"),
        when(col("interior"),
          when(c > 0L, struct(
            c.as("count"),
            col(s"${band}_min").as("min"),
            col(s"${band}_max").as("max"),
            col(s"${band}_sum").as("sum"),
            ((col(s"${band}_stddev") * col(s"${band}_stddev") +
              col(s"${band}_mean") * col(s"${band}_mean")) * c.cast("double"))
              .as("sum_sq"),
            col(s"${band}_mean").as("mean"),
            col(s"${band}_stddev").as("stddev"))))
        .otherwise(rq_clip_stats_col(ds.band(band), col("block"), col("zwkt"),
          meta, band)).as("s"))
      .select(col("zone_id"), col("s"))
  }

  /** 'auto' resolution: finest zoom (clamped) where the geometry's bbox spans
    * at most ~256 tiles — large areas read coarse overviews, small areas read
    * native resolution (spec raquet.md:311-316 rationale). */
  def autoZoom(geom: graft.geo.Geom, meta: RaquetMetadata, targetTiles: Int = 256): Int = {
    val b = geom.bbox
    var z = meta.maxZoom
    while (z > meta.minZoom && estTiles(b, z) > targetTiles) z -= 1
    z
  }

  private def estTiles(b: graft.geo.BBox, z: Int): Double = {
    val n = (1L << z).toDouble
    def yf(lat: Double): Double = {
      val r = math.toRadians(math.max(-Quadbin.LatLimit, math.min(Quadbin.LatLimit, lat)))
      (1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0
    }
    val tx = (b.east - b.west) / 360.0 * n + 1.0
    val ty = (yf(b.south) - yf(b.north)) * n + 1.0
    tx * ty
  }

  /** S9 (directory form): Morton-sorted data + a separate one-row metadata
    * file with the same schema. Sorted writes are what make every later read
    * prunable; `orderBy` range-partitions so each output file covers a
    * disjoint block range (the property M4 partitioning formalizes).
    *
    * @param maxRecordsPerFile M8 size split: roll to a new file every N rows
    *        (0 = Spark default)
    * @param rowGroupBytes parquet row-group budget — smaller groups give the
    *        finer-grained remote pruning the reference tunes for with its
    *        200-row groups (`docs/performance.md:196-210`); 0 = default
    */
  /** Parquet page codec for a table whose bytes are dominated by the band
    * blobs: when the blobs are already entropy-coded (gzip/webp/jpeg),
    * parquet-level snappy cannot shrink them and costs a full extra
    * decode+copy pass on every scan — measured 4.7× slower cold-cache
    * binary-column reads on the 19 GB bench set for a 0.03% size win. Raw
    * (`compression: none`) blobs do benefit, so they keep snappy. */
  private[raquet] def pageCodec(meta: RaquetMetadata): String =
    if (meta.compression.exists(c => c != "none")) "none" else "snappy"

  def write(data: DataFrame, meta: RaquetMetadata, dir: String,
      maxRecordsPerFile: Long = 0, rowGroupBytes: Long = 0): Unit = {
    val sortNames = if (data.columns.contains("time_cf"))
      Seq("block", "time_cf") else Seq("block")
    var w = data.orderBy(sortNames.map(col): _*).write.mode("overwrite")
      .option("compression", pageCodec(meta))
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    if (rowGroupBytes > 0) w = w.option("parquet.block.size", rowGroupBytes)
    w.parquet(dir)
    metadataDf(data, meta).write.mode("append").parquet(dir)
    // spec footer contract (raquet.md:685-695): raquet:version KV +
    // SortingColumn per row group — Spark's writer exposes neither, so the
    // footers are stamped in place (O(footer) per file)
    ParquetFooter.stampAll(dir, sortNames)
  }

  /** S9 (single-file form, small outputs / fixtures): one parquet FILE with
    * sorted data rows and the metadata row appended last, mirroring the
    * reference writer's layout (`raster2raquet.py:2265-2314`). */
  def writeSingleFile(data: DataFrame, meta: RaquetMetadata, file: String,
      rowGroupBytes: Long = 0): Unit = {
    val sortNames = if (data.columns.contains("time_cf"))
      Seq("block", "time_cf") else Seq("block")
    val sorted = data.repartition(1).sortWithinPartitions(sortNames.map(col): _*)
    // union preserves partition order; coalesce(1) concatenates them in
    // order, so the metadata row lands after the sorted data rows
    val withMeta = sorted.unionByName(metadataDf(data, meta)).coalesce(1)
    val tmp = file + ".tmpdir"
    var w = withMeta.write.mode("overwrite").option("compression", pageCodec(meta))
    if (rowGroupBytes > 0) w = w.option("parquet.block.size", rowGroupBytes)
    w.parquet(tmp)
    val part = Files.list(Paths.get(tmp)).filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmp"))
    Files.createDirectories(Paths.get(file).toAbsolutePath.getParent)
    Files.move(part, Paths.get(file), StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(Paths.get(tmp))
    ParquetFooter.stamp(Paths.get(file), sortNames)
  }

  private def metadataDf(data: DataFrame, meta: RaquetMetadata): DataFrame = {
    val spark = data.sparkSession
    val json = RaquetMetadata.toJson(meta)
    val values = data.schema.fields.map { f =>
      f.name match {
        case "block" => 0L
        case "metadata" => json
        case _ => null
      }
    }
    spark.createDataFrame(
      java.util.Arrays.asList(Row(values.toIndexedSeq: _*)), data.schema)
  }

  private[graft] def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).forEach(deleteRecursively(_))
    Files.deleteIfExists(p)
  }

  private[raquet] def deleteRecursivelyPublic(p: Path): Unit = deleteRecursively(p)

  /** Best-effort recursive delete of a local path (temp trees). */
  def deleteTree(path: String): Unit = {
    val p = Paths.get(path)
    if (Files.exists(p)) deleteRecursively(p)
  }

  /** Write a standalone one-row metadata file into `dir` (the upsert
    * refresh path): same schema as the data rows, block = 0. */
  private[raquet] def writeMetadataFile(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, meta: RaquetMetadata,
      dir: String, name: String): Unit = {
    val json = RaquetMetadata.toJson(meta)
    val values = schema.fields.map { f =>
      f.name match {
        case "block" => 0L
        case "metadata" => json
        case _ => null
      }
    }
    val df = spark.createDataFrame(
      java.util.Arrays.asList(Row(values.toIndexedSeq: _*)), schema)
    val tmp = s"$dir/.meta-tmp"
    df.coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = Files.list(Paths.get(tmp))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .findFirst().orElseThrow(() => new IllegalStateException(s"no part file in $tmp"))
    Files.move(part, Paths.get(dir, s"$name.parquet"),
      StandardCopyOption.REPLACE_EXISTING)
    deleteRecursively(Paths.get(tmp))
  }
}
