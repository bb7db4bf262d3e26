package graft.raquet

import java.awt.image.IndexColorModel
import java.io.File
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import javax.imageio.ImageIO
import javax.imageio.plugins.tiff.TIFFDirectory

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col => column}
import org.apache.spark.sql.types._

import graft.quadbin.Quadbin

/** GDAL-free GeoTIFF source/sink (S6 subset, S10) built on the JDK's TIFF
  * ImageIO plugin (deflate/LZW/uncompressed decode) + direct GeoTIFF tag
  * handling. Mirrors the reference ingest pipeline
  * (`raquet/raster2raquet.py` §3.1 trace in SURVEY.md). Supported source
  * CRSes: EPSG:4326, EPSG:3857, the WGS84 UTM zones (326xx/327xx), the
  * common conic/polar systems 5070/2154/3031/3413, and user-defined
  * Lambert-conformal-conic / Albers / polar-stereographic projections read
  * from GeoTIFF projection keys (see `userDefinedProjection`). All 14
  * of the reference's gdalwarp resampling algorithms are implemented
  * (near/bilinear/cubic/cubicspline/lanczos + the average/sum/rms/min/max/
  * med/q1/q3/mode footprint statistics).
  *
  * Scale design (mirrors the reference's per-worker `gdal.Warp` windows,
  * `raster2raquet.py:1091-1102`): the DRIVER touches only the TIFF header +
  * IFD tags (random-access reads, never the pixel payload); each TASK opens
  * the file itself and decodes only the strips/tiles covering its target
  * tiles via ImageIO's source-region reads. Consecutive same-row target
  * tiles share one windowed decode (bounded by [[MaxWindowBytes]]) so
  * striped sources don't re-inflate the same strips per tile. Driver memory
  * is O(tags); executor memory is O(window), independent of source size.
  */
object GeoTiff {

  final val CE = 2.0 * math.Pi * Quadbin.EarthRadius // web-mercator circumference
  final val LatLimit = 85.05112877980659             // atan(sinh(pi))

  /** Everything about a GeoTIFF except its pixels — cheap to build (tag
    * reads only) and to ship to tasks. */
  final case class SourceInfo(
      path: String, width: Int, height: Int, bands: Int, dtype: String,
      nodata: Option[Double],
      x0: Double, dx: Double, y0: Double, dy: Double,
      proj: graft.geo.Projection,
      colortable: Option[Map[String, Seq[Int]]]) extends Serializable {
    def geographic: Boolean = proj eq graft.geo.Geographic
  }

  /** Random access to pixel values; implementations carry only a window. */
  trait PixelSampler {
    def sample(band: Int, px: Int, py: Int): Double
  }

  /** Fill for uncovered target pixels when the source declares no nodata:
    * NaN for float dtypes (blob-representable, masked by every kernel),
    * 0 for integer dtypes (the reference's GDAL parity — an int blob
    * cannot carry NaN, and encode/stats must agree). */
  def noDataFill(dtype: String): Double =
    if (dtype.startsWith("float")) Double.NaN else 0.0

  /** Fully-materialized source (legacy/test surface; used for small files
    * like export round-trips — convert() never builds one). */
  final case class Source(info: SourceInfo, pixels: Array[Array[Double]])
      extends PixelSampler {
    def width: Int = info.width
    def height: Int = info.height
    def bands: Int = info.bands
    def dtype: String = info.dtype
    def nodata: Option[Double] = info.nodata
    def x0: Double = info.x0
    def dx: Double = info.dx
    def y0: Double = info.y0
    def dy: Double = info.dy
    def geographic: Boolean = info.geographic
    def colortable: Option[Map[String, Seq[Int]]] = info.colortable
    def sample(band: Int, px: Int, py: Int): Double =
      pixels(band)(py * info.width + px)
  }

  // --- TIFF/GeoTIFF reading ---

  /** Direct first-IFD tag parse over RANDOM ACCESS reads (ImageIO's
    * TIFFDirectory drops the GDAL private tags 42112/42113, and reading the
    * whole file for its tags would be a driver-killer on multi-GB rasters).
    * Classic TIFF or BigTIFF (version 43, 8-byte offsets), either byte
    * order. Strip offsets/counts parse into doubles, exact to 2^53 — far
    * past any real file size. */
  private final class TagReader(path: String) extends AutoCloseable {
    private val rr = graft.sources.RandomReader(path)
    var order: ByteOrder = ByteOrder.LITTLE_ENDIAN
    var big: Boolean = false

    private def buf(at: Long, n: Int): ByteBuffer =
      ByteBuffer.wrap(rr.readAt(at, n)).order(order)

    def parse(): Map[Int, (Int, Array[Double], String)] = parseAll().head

    /** All IFDs in the chain (COG overviews are IFDs 1..n); `maxIfds`
      * stops the walk early when only a prefix is needed. */
    def parseAll(maxIfds: Int = 32): Seq[Map[Int, (Int, Array[Double], String)]] = {
      val magic = buf(0, 16)
      order = (magic.get(0), magic.get(1)) match {
        case ('I', 'I') => ByteOrder.LITTLE_ENDIAN
        case ('M', 'M') => ByteOrder.BIG_ENDIAN
        case _ => throw new IllegalArgumentException(s"$path: not a TIFF")
      }
      val header = buf(0, 16)
      val version = header.getShort(2) & 0xFFFF
      big = version == 43
      require(version == 42 || version == 43, s"$path: TIFF version $version")
      if (big) require((header.getShort(4) & 0xFFFF) == 8,
        s"$path: BigTIFF offset size != 8")
      var ifd = if (big) header.getLong(8) else header.getInt(4) & 0xFFFFFFFFL
      val out = scala.collection.mutable.ArrayBuffer
        .empty[Map[Int, (Int, Array[Double], String)]]
      while (ifd != 0 && out.size < maxIfds) {
        val (tags, next) = parseOne(ifd)
        out += tags
        ifd = next
      }
      out.toSeq
    }

    private def parseOne(ifd: Long): (Map[Int, (Int, Array[Double], String)], Long) = {
      val n =
        if (big) buf(ifd, 8).getLong(0).toInt
        else buf(ifd, 2).getShort(0) & 0xFFFF
      val entrySize = if (big) 20 else 12
      val inlineCap = if (big) 8 else 4
      val entries = buf(ifd + (if (big) 8 else 2), entrySize * n)
      val tagsOut = (0 until n).map { k =>
        val e = entrySize * k
        val id = entries.getShort(e) & 0xFFFF
        val ttype = entries.getShort(e + 2) & 0xFFFF
        val count =
          (if (big) entries.getLong(e + 4) else entries.getInt(e + 4).toLong).toInt
        val elemSize = ttype match {
          case 1 | 2 | 6 | 7 => 1
          case 3 | 8 => 2
          case 4 | 9 | 11 => 4
          case 5 | 10 | 12 | 16 | 17 | 18 => 8
          case _ => 1
        }
        val valueAt = e + (if (big) 12 else 8)
        val total = elemSize * count
        val vb =
          if (total <= inlineCap) {
            val a = new Array[Byte](math.max(inlineCap, total))
            entries.position(valueAt)
            entries.get(a, 0, math.min(inlineCap, a.length))
            entries.rewind()
            ByteBuffer.wrap(a).order(order)
          } else {
            val off = if (big) entries.getLong(valueAt)
              else entries.getInt(valueAt) & 0xFFFFFFFFL
            buf(off, total)
          }
        val values = ttype match {
          case 3 => (0 until count).map(i => (vb.getShort(2 * i) & 0xFFFF).toDouble)
          case 8 => (0 until count).map(i => vb.getShort(2 * i).toDouble)
          case 4 => (0 until count).map(i => (vb.getInt(4 * i) & 0xFFFFFFFFL).toDouble)
          case 9 => (0 until count).map(i => vb.getInt(4 * i).toDouble)
          case 11 => (0 until count).map(i => vb.getFloat(4 * i).toDouble)
          case 12 => (0 until count).map(i => vb.getDouble(8 * i))
          case 16 | 17 | 18 => (0 until count).map(i => vb.getLong(8 * i).toDouble)
          case 1 | 6 | 7 => (0 until count).map(i => (vb.get(i) & 0xFF).toDouble)
          case _ => Seq.empty[Double]
        }
        val str = if (ttype == 2)
          new String(vb.array(), 0, math.max(0, count - 1), "ASCII") else ""
        id -> ((ttype, values.toArray, str))
      }.toMap
      val afterEntries = ifd + (if (big) 8 else 2) + entrySize.toLong * n
      val next =
        if (big) buf(afterEntries, 8).getLong(0)
        else buf(afterEntries, 4).getInt(0) & 0xFFFFFFFFL
      (tagsOut, next)
    }

    def close(): Unit = rr.close()
  }

  /** Driver-side open: header + IFD tags only, never pixel bytes. */
  def readInfo(path: String): SourceInfo = {
    val tr = new TagReader(path)
    val tags = try tr.parse() finally tr.close()

    def fieldDoubles(tag: Int): Option[Array[Double]] =
      tags.get(tag).map(_._2).filter(_.nonEmpty)
    def fieldString(tag: Int): Option[String] =
      tags.get(tag).map(_._3).filter(_.nonEmpty)

    val w = fieldDoubles(256).map(_(0).toInt)
      .getOrElse(throw new IllegalArgumentException(s"$path: no ImageWidth"))
    val h = fieldDoubles(257).map(_(0).toInt)
      .getOrElse(throw new IllegalArgumentException(s"$path: no ImageLength"))
    val nb = fieldDoubles(277).map(_(0).toInt).getOrElse(1)

    // geotransform: ModelPixelScale+Tiepoint, or ModelTransformation matrix
    val (x0, dx, y0, dy) =
      (fieldDoubles(33550), fieldDoubles(33922), fieldDoubles(34264)) match {
        case (Some(scale), Some(tie), _) =>
          // tiepoint: raster (i,j,k) -> model (x,y,z); dy is negative (north-up)
          (tie(3) - tie(0) * scale(0), scale(0), tie(4) + tie(1) * scale(1), -scale(1))
        case (_, _, Some(m)) => (m(3), m(0), m(7), m(5))
        case _ => throw new IllegalArgumentException(s"$path: no geotransform tags")
      }

    // GeoKeyDirectory: key 1024 GTModelType (1=projected, 2=geographic),
    // key 3072 ProjectedCSType; user-defined projections (32767) carry
    // their parameters as doubles in GeoDoubleParams (34736) referenced by
    // TIFFTagLocation
    val keys = fieldDoubles(34735).getOrElse(Array.empty).map(_.toInt)
    val doubleParams = fieldDoubles(34736).getOrElse(Array.empty)
    val entries = keys.drop(4).grouped(4).toSeq
    val keyMap = entries.collect { case Array(k, 0, 1, v) => k -> v }.toMap
    val dblKeys = entries.collect {
      case Array(k, 34736, 1, off) if off < doubleParams.length =>
        k -> doubleParams(off)
    }.toMap
    def userDefinedProjection(): graft.geo.Projection = {
      import graft.geo._
      def d(primary: Int, alt: Int, what: String): Double =
        dblKeys.get(primary).orElse(dblKeys.get(alt)).getOrElse(
          throw new IllegalArgumentException(
            s"$path: projection parameter $what (geokey $primary) missing"))
      def opt(primary: Int, alt: Int): Double =
        dblKeys.get(primary).orElse(dblKeys.get(alt)).getOrElse(0.0)
      val aAx = dblKeys.getOrElse(2057, Ellipsoidal.Wgs84._1)
      val invF = dblKeys.getOrElse(2059, Ellipsoidal.Wgs84._2)
      keyMap.getOrElse(3075, -1) match {
        case 8 => // CT_LambertConfConic_2SP
          LambertConformalConic(aAx, invF,
            d(3078, -1, "std parallel 1"), d(3079, 3078, "std parallel 2"),
            d(3085, 3081, "origin lat"), d(3084, 3080, "origin lon"),
            opt(3082, 3086), opt(3083, 3087))
        case 11 => // CT_AlbersEqualArea
          AlbersEqualArea(aAx, invF,
            d(3078, -1, "std parallel 1"), d(3079, 3078, "std parallel 2"),
            d(3081, 3085, "origin lat"), d(3080, 3084, "origin lon"),
            opt(3082, 3086), opt(3083, 3087))
        case 15 => // CT_PolarStereographic
          // Variant A vs B discriminates on the ORIGIN LATITUDE, not on
          // geokey presence: GDAL/libgeotiff write ScaleAtNatOrigin
          // (3092, = 1.0) for variant-B files too. Variant A (EPSG 9810,
          // the UPS shape) has its natural origin AT the pole (±90°) with
          // k0 from 3092; anything else is a standard parallel → variant
          // B (EPSG 9829).
          val originLat = d(3081, 3078, "origin lat / std parallel")
          if (math.abs(math.abs(originLat) - 90.0) < 1e-9)
            PolarStereographicA(aAx, invF, dblKeys.getOrElse(3092, 1.0),
              north = originLat >= 0,
              d(3095, 3080, "straight vertical pole lon"),
              opt(3082, 3086), opt(3083, 3087))
          else
            PolarStereographic(aAx, invF, originLat,
              d(3095, 3080, "straight vertical pole lon"),
              opt(3082, 3086), opt(3083, 3087))
        case 24 => // CT_Sinusoidal (the MODIS land grid and kin)
          // NASA sinusoidal products use the authalic SPHERE
          // (R = 6371007.181): a present inv-flattening of 0 — or an
          // absent one next to a semi-major axis equal to the semi-minor
          // — must NOT default to the WGS84 ellipsoid
          val sphere = dblKeys.get(2059) match {
            case Some(f) => !(f > 0)
            case None => dblKeys.get(2058).forall(b => b == aAx) // semi-minor
          }
          Sinusoidal(aAx, if (sphere) 0.0 else invF,
            dblKeys.getOrElse(3089, opt(3084, 3080)), // proj center lon
            opt(3082, 3086), opt(3083, 3087))
        case ct => throw new IllegalArgumentException(
          s"$path: user-defined projection with coordinate transform code " +
            s"$ct unsupported (LCC-2SP=8, Albers=11, PolarStereographic=15, " +
            "Sinusoidal=24)")
      }
    }
    val proj: graft.geo.Projection =
      if (keyMap.getOrElse(1024, 2) == 2) graft.geo.Geographic
      else {
        val epsg = keyMap.getOrElse(3072, 3857)
        if (epsg == 32767) userDefinedProjection()
        else graft.geo.Projection.fromEpsg(epsg).getOrElse(
          throw new IllegalArgumentException(s"$path: projected CRS " +
            s"EPSG:$epsg unsupported (3857, 4326, WGS84 UTM 326xx/327xx, " +
            "5070, 2154, 3031, 3413, UPS 5041/5042/32661/32761, " +
            "or user-defined LCC/Albers/polar-stereo)"))
      }

    val nodata = fieldString(42113).flatMap(s =>
      try Some(s.trim.toDouble) catch { case _: NumberFormatException => None })

    val bits = fieldDoubles(258).map(_(0).toInt).getOrElse(8)
    val format = fieldDoubles(339).map(_(0).toInt).getOrElse(1)
    val dtype = (bits, format) match {
      case (8, 2) => "int8"
      case (8, _) => "uint8"
      case (16, 1) => "uint16"
      case (16, 2) => "int16"
      case (32, 1) => "uint32"
      case (32, 2) => "int32"
      case (32, 3) => "float32"
      case (64, 3) => "float64"
      case other => throw new IllegalArgumentException(
        s"$path: unsupported (bits, sampleFormat) $other")
    }

    // ColorMap tag 320: 2^bits 16-bit entries per channel, r..g..b planes.
    // GDAL semantics: the nodata palette index renders transparent.
    val colortable = (fieldDoubles(262).map(_(0).toInt), fieldDoubles(320)) match {
      case (Some(3), Some(cm)) if nb == 1 =>
        val size = cm.length / 3
        Some((0 until size).map { i =>
          val alpha = if (nodata.contains(i.toDouble)) 0 else 255
          i.toString -> Seq(cm(i).toInt >> 8, cm(size + i).toInt >> 8,
            cm(2 * size + i).toInt >> 8, alpha)
        }.toMap)
      case _ => None
    }

    SourceInfo(path, w, h, nb, dtype, nodata, x0, dx, y0, dy, proj,
      colortable)
  }

  /** Reduced-resolution overview levels (COG IFDs 1..n), as [[SourceInfo]]s
    * sharing the base grid origin with scaled resolution. Overview IFDs
    * carry no geo tags of their own — the COG spec pins them to the base
    * extent. Returns empty for plain single-IFD sources. */
  def readOverviews(path: String): Seq[SourceInfo] = {
    val base = readInfo(path)
    val tr = new TagReader(path)
    val all = try tr.parseAll() finally tr.close()
    val baseTags = all.head
    def tag1(tags: Map[Int, (Int, Array[Double], String)], id: Int, dflt: Double) =
      tags.get(id).map(_._2.head).getOrElse(dflt)
    all.drop(1).flatMap { tags =>
      val subfile = tag1(tags, 254, 0).toLong
      val isMask = (subfile & 0x4) != 0
      val sameShape =
        tag1(tags, 277, 1) == tag1(baseTags, 277, 1) &&
        tag1(tags, 258, 8) == tag1(baseTags, 258, 8) &&
        tag1(tags, 339, 1) == tag1(baseTags, 339, 1)
      for {
        w <- tags.get(256).map(_._2.head.toInt)
        h <- tags.get(257).map(_._2.head.toInt)
        // only reduced-resolution pages of the SAME raster: skip transparency
        // masks (subfile bit 2), extra full-res pages, and shape mismatches
        if !isMask && sameShape && w < base.width && h < base.height
      } yield base.copy(width = w, height = h,
        dx = base.dx * base.width / w, dy = base.dy * base.height / h)
    }
  }

  /** Full in-memory decode (small sources / tests). convert() does NOT use
    * this — it ships [[SourceInfo]] and window-reads per task. */
  def read(path: String): Source = {
    val info = readInfo(path)
    val raster = readWindowRaster(path, 0, 0, info.width, info.height)
    val w = info.width; val h = info.height
    val pixels = Array.tabulate(info.bands) { b =>
      val a = new Array[Double](w * h)
      var j = 0
      while (j < h) {
        var i = 0
        while (i < w) { a(j * w + i) = raster.getSampleDouble(i, j, b); i += 1 }
        j += 1
      }
      a
    }
    Source(info, pixels)
  }

  /** Decode only the strips/TIFF-tiles covering the window — the per-task
    * I/O primitive. Classic TIFF goes through ImageIO's source-region read
    * (deflate/LZW/PackBits, any layout the JDK plugin handles); BigTIFF —
    * which the JDK plugin cannot open — takes [[readWindowDirect]],
    * the strip/tile decoder over the same tag parse the driver already did. */
  def readWindowRaster(path: String, wx: Int, wy: Int, ww: Int,
      wh: Int, ifd: Int = 0): java.awt.image.Raster = {
    // remote sources go through the direct strip reader: it fetches exactly
    // the byte ranges the window touches (ImageIO would need a local file)
    if (isBigTiff(path) || graft.sources.RandomReader.isRemote(path))
      return readWindowDirect(path, wx, wy, ww, wh, ifd)
    val iis = ImageIO.createImageInputStream(new File(path))
    try {
      val readers = ImageIO.getImageReaders(iis)
      require(readers.hasNext, s"$path: no ImageIO reader")
      val reader = readers.next()
      reader.setInput(iis)
      try {
        val param = reader.getDefaultReadParam
        param.setSourceRegion(new java.awt.Rectangle(wx, wy, ww, wh))
        if (reader.canReadRaster) reader.readRaster(ifd, param)
        else reader.read(ifd, param).getRaster
      } finally reader.dispose()
    } finally iis.close()
  }

  private def isBigTiff(path: String): Boolean = {
    val rr = graft.sources.RandomReader(path)
    try {
      val a = rr.readAt(0, 4)
      val le = a(0) == 'I'.toByte
      val v = if (le) ((a(2) & 0xFF) | ((a(3) & 0xFF) << 8))
              else ((a(3) & 0xFF) | ((a(2) & 0xFF) << 8))
      v == 43
    } finally rr.close()
  }

  /** Windowed read over raw STRIP or TILE layout (BigTIFF / remote path):
    * seeks only the chunks intersecting the window, decompresses
    * (none/LZW/deflate/JPEG/PackBits) and undoes horizontal-differencing
    * predictor 2; chunky OR band-separate (planar config 2) interleave,
    * either byte order.
    *
    * Both layouts are "grids of chunks": a strip is a chunk of the full
    * image width (`chunksAcross` = 1, rows clipped at the image bottom); a
    * TIFF tile (tags 322/323/324/325 — the COG layout) is a fixed
    * `tileW`×`tileL` chunk, edge chunks PADDED to full size per the spec.
    * One decode + copy loop serves both. */
  private[graft] def readWindowDirect(path: String, wx: Int, wy: Int,
      ww: Int, wh: Int, ifd: Int = 0): java.awt.image.Raster = {
    val tr = new TagReader(path)
    val (tags, order) =
      try { val t = tr.parseAll(ifd + 1).apply(ifd); (t, tr.order) } finally tr.close()
    def tag1(id: Int, dflt: => Double): Double =
      tags.get(id).map(_._2.head).getOrElse(dflt)
    val w = tag1(256, sys.error(s"$path: no width")).toInt
    val h = tag1(257, sys.error(s"$path: no height")).toInt
    val nb = tag1(277, 1).toInt
    val planar = tag1(284, 1).toInt
    require(planar == 1 || planar == 2,
      s"$path: planar configuration $planar unsupported (1=chunky, 2=separate)")
    val compression = tag1(259, 1).toInt
    require(compression == 1 || compression == 5 || compression == 7 ||
      compression == 8 || compression == 32773 || compression == 32946,
      s"$path: compression $compression unsupported (none/LZW/JPEG/deflate/PackBits)")
    require(planar == 1 || compression != 7,
      s"$path: JPEG-in-TIFF requires chunky interleave")
    val predictor = tag1(317, 1).toInt
    require(predictor == 1 || predictor == 2 || predictor == 3,
      s"$path: predictor $predictor unsupported")
    val bits = tags(258)._2.head.toInt
    val format = tag1(339, 1).toInt
    require(predictor != 3 || format == 3,
      s"$path: predictor 3 (floating point) requires sample format 3, got $format")
    val bpp = bits / 8
    // JPEG-in-TIFF (compression 7): per-chunk abbreviated JPEG streams with
    // the shared tables in tag 347; photometric 6 means the streams carry
    // YCbCr that decodes to RGB (what GDAL returns for such files)
    val jpegTables: Option[Array[Byte]] =
      if (compression != 7) None
      else tags.get(347).map(_._2.map(_.toInt.toByte))
    if (compression == 7)
      require(bits == 8, s"$path: JPEG-in-TIFF requires 8-bit samples, got $bits")

    val tiled = tags.contains(322)
    // chunk grid: (chunk width, chunk length, offsets, counts, chunks across)
    val (chunkW, chunkL, offsets, counts, chunksAcross) =
      if (tiled) {
        val tw = tag1(322, sys.error(s"$path: no TileWidth")).toInt
        val tl = tag1(323, sys.error(s"$path: no TileLength")).toInt
        require(tags.contains(324) && tags.contains(325),
          s"$path: tiled layout missing TileOffsets/TileByteCounts")
        (tw, tl, tags(324)._2, tags(325)._2, (w + tw - 1) / tw)
      } else {
        val rps = tag1(278, h).toInt
        (w, rps, tags(273)._2, tags(279)._2, 1)
      }
    // planar config 2 (band-separate): one full chunk grid PER BAND,
    // band-major in the offset tables (TIFF spec §PlanarConfiguration);
    // each chunk then carries one sample per pixel
    val planes = if (planar == 2) nb else 1
    val sppChunk = if (planar == 2) 1 else nb
    val chunksDown = (h + chunkL - 1) / chunkL
    val chunkRowBytes = chunkW.toLong * sppChunk * bpp

    val sm = new java.awt.image.BandedSampleModel(
      java.awt.image.DataBuffer.TYPE_DOUBLE, ww, wh, nb)
    val db = new java.awt.image.DataBufferDouble(ww * wh, nb)
    val out = java.awt.image.Raster.createWritableRaster(sm, db, null)
    val banks = (0 until nb).map(db.getData).toArray

    val rr = graft.sources.RandomReader(path)
    try {
      val cx0 = if (tiled) wx / chunkW else 0
      val cx1 = if (tiled) (wx + ww - 1) / chunkW else 0
      val cy0 = wy / chunkL
      val cy1 = (wy + wh - 1) / chunkL
      // gather every chunk range the window touches, then read them in ONE
      // readRanges call — the HTTP transport coalesces adjacent chunks into
      // merged GETs (O(1) requests per window instead of one per strip)
      val chunkIds = for (pb <- 0 until planes; cy <- cy0 to cy1; cx <- cx0 to cx1)
        yield (pb, cx, cy)
      val rawChunks = rr.readRanges(chunkIds.map { case (pb, cx, cy) =>
        val ci = (pb * chunksDown + cy) * chunksAcross + cx
        require(ci < offsets.length && ci < counts.length,
          s"$path: chunk $ci outside offset table (${offsets.length})")
        (offsets(ci).toLong, counts(ci).toLong.toInt)
      })
      chunkIds.zip(rawChunks).foreach { case ((pb, cx, cy), raw) =>
        {
          val ci = (pb * chunksDown + cy) * chunksAcross + cx
          // strips are clipped at the image bottom; tiles are always padded
          val chunkRows =
            if (tiled) chunkL
            else math.min(chunkL.toLong, h - cy.toLong * chunkL).toInt
          val expect = (chunkRowBytes * chunkRows).toInt
          val data = compression match {
            case 1 => raw
            case 5 => lzwDecompress(raw, expect)
            case 7 => jpegDecompress(raw, jpegTables, chunkW, chunkRows, nb,
              s"$path chunk $ci")
            case 32773 => packbitsDecompress(raw, expect)
            case _ =>
              val inf = new java.util.zip.Inflater()
              inf.setInput(raw)
              val outB = new Array[Byte](expect)
              var got = 0
              while (got < outB.length && !inf.finished())
                got += inf.inflate(outB, got, outB.length - got)
              inf.end()
              require(got == outB.length, s"$path: chunk $ci inflated $got/${outB.length}")
              outB
          }
          require(data.length >= expect, s"$path: chunk $ci ${data.length}/$expect bytes")
          if (predictor == 2) undoPredictor2(data, chunkW, sppChunk, bpp, order)
          else if (predictor == 3) undoPredictor3(data, chunkW, sppChunk, bpp, order)
          val bb = ByteBuffer.wrap(data).order(order)
          val px0 = cx * chunkW; val py0 = cy * chunkL
          val j0 = math.max(wy, py0)
          val j1 = math.min(wy + wh, py0 + chunkRows)
          val i0 = math.max(wx, px0)
          val i1 = math.min(wx + ww, px0 + chunkW)
          var j = j0
          while (j < j1) {
            val rowOff = (j - py0).toLong * chunkRowBytes
            var i = i0
            while (i < i1) {
              var b = 0
              while (b < sppChunk) {
                val at = (rowOff + ((i - px0).toLong * sppChunk + b) * bpp).toInt
                val v = (bits, format) match {
                  case (8, 1) => (bb.get(at) & 0xFF).toDouble
                  case (8, 2) => bb.get(at).toDouble
                  case (16, 1) => (bb.getShort(at) & 0xFFFF).toDouble
                  case (16, 2) => bb.getShort(at).toDouble
                  case (32, 1) => (bb.getInt(at) & 0xFFFFFFFFL).toDouble
                  case (32, 2) => bb.getInt(at).toDouble
                  case (32, 3) => bb.getFloat(at).toDouble
                  case (64, 3) => bb.getDouble(at)
                  case other => sys.error(s"$path: sample $other unsupported")
                }
                banks(if (planar == 2) pb else b)((j - wy) * ww + (i - wx)) = v
                b += 1
              }
              i += 1
            }
            j += 1
          }
        }
      }
    } finally rr.close()
    out
  }

  /** Decode one JPEG-in-TIFF chunk to raw interleaved samples. The chunk is
    * an abbreviated JPEG stream sharing quantization/Huffman tables via the
    * JPEGTables tag (TIFF TechNote 2): splice the tables' marker segments
    * after the chunk's SOI so any baseline JPEG decoder reads it. Chunks
    * written without a tables tag are self-contained full streams. */
  private[graft] def jpegDecompress(raw: Array[Byte],
      tables: Option[Array[Byte]], cw: Int, rows: Int, nb: Int,
      what: String): Array[Byte] = {
    val stream = tables match {
      case Some(t) =>
        require(t.length >= 4 && (t(0) & 0xFF) == 0xFF && (t(1) & 0xFF) == 0xD8,
          s"$what: JPEGTables does not start with SOI")
        require(raw.length >= 2 && (raw(0) & 0xFF) == 0xFF && (raw(1) & 0xFF) == 0xD8,
          s"$what: JPEG chunk does not start with SOI")
        // tables interior = between its SOI and trailing EOI (if present)
        val tEnd = if ((t(t.length - 2) & 0xFF) == 0xFF &&
          (t(t.length - 1) & 0xFF) == 0xD9) t.length - 2 else t.length
        val outB = new Array[Byte](2 + (tEnd - 2) + (raw.length - 2))
        outB(0) = 0xFF.toByte; outB(1) = 0xD8.toByte
        System.arraycopy(t, 2, outB, 2, tEnd - 2)
        System.arraycopy(raw, 2, outB, tEnd, raw.length - 2)
        outB
      case None => raw
    }
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(stream))
    require(img != null, s"$what: JPEG chunk failed to decode")
    require(img.getWidth == cw && img.getHeight >= rows,
      s"$what: JPEG chunk ${img.getWidth}x${img.getHeight}, expected ${cw}x$rows")
    val outB = new Array[Byte](cw * rows * nb)
    val r = img.getRaster
    val decBands = r.getNumBands
    require(decBands >= nb, s"$what: JPEG decoded $decBands bands, need $nb")
    var j = 0
    while (j < rows) {
      var i = 0
      while (i < cw) {
        var b = 0
        while (b < nb) {
          outB((j * cw + i) * nb + b) = r.getSample(i, j, b).toByte
          b += 1
        }
        i += 1
      }
      j += 1
    }
    outB
  }

  /** TIFF-flavor LZW (spec §13): MSB-first bit packing, 9→12-bit codes
    * with EARLY change (width grows one code before the table fills),
    * ClearCode 256 / EOI 257. */
  private[raquet] def lzwDecompress(src: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var outPos = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val len = new Array[Int](4096)
    var i = 0
    while (i < 256) { prefix(i) = -1; suffix(i) = i.toByte; len(i) = 1; i += 1 }
    var nextCode = 258
    var codeBits = 9
    var bitPos = 0L
    val totalBits = src.length * 8L
    def readCode(): Int = {
      if (bitPos + codeBits > totalBits) return 257
      var v = 0
      var n = codeBits
      while (n > 0) {
        val bi = (bitPos >> 3).toInt
        val bitOff = (bitPos & 7).toInt
        val avail = 8 - bitOff
        val take = math.min(avail, n)
        v = (v << take) | (((src(bi) & 0xFF) >> (avail - take)) & ((1 << take) - 1))
        bitPos += take
        n -= take
      }
      v
    }
    def firstByte(code: Int): Byte = {
      var c = code
      while (prefix(c) >= 0) c = prefix(c)
      suffix(c)
    }
    def emit(code: Int): Unit = {
      val l = len(code)
      require(outPos + l <= expected, s"LZW overrun at $outPos+$l/$expected")
      var p = outPos + l - 1
      var c = code
      while (c >= 0) { out(p) = suffix(c); p -= 1; c = prefix(c) }
      outPos += l
    }
    var oldCode = -1
    var done = false
    while (!done && outPos < expected) {
      val code = readCode()
      if (code == 257) done = true
      else if (code == 256) { nextCode = 258; codeBits = 9; oldCode = -1 }
      else if (oldCode < 0) { emit(code); oldCode = code }
      else {
        if (code < nextCode) {
          emit(code)
          if (nextCode < 4096) {
            prefix(nextCode) = oldCode
            suffix(nextCode) = firstByte(code)
            len(nextCode) = len(oldCode) + 1
            nextCode += 1
          }
        } else {
          require(code == nextCode && nextCode < 4096, s"LZW bad code $code")
          prefix(nextCode) = oldCode
          suffix(nextCode) = firstByte(oldCode)
          len(nextCode) = len(oldCode) + 1
          nextCode += 1
          emit(nextCode - 1)
        }
        oldCode = code
        if (nextCode == (1 << codeBits) - 1 && codeBits < 12) codeBits += 1
      }
    }
    require(outPos == expected, s"LZW decoded $outPos of $expected bytes")
    out
  }

  /** PackBits (TIFF spec §9): control byte n in [0,127] copies n+1 literal
    * bytes, n in [-127,-1] repeats the next byte 1−n times, −128 is a
    * no-op. Bounds-checked both sides — corrupt streams fail cleanly. */
  private[graft] def packbitsDecompress(src: Array[Byte], expected: Int): Array[Byte] = {
    val out = new Array[Byte](expected)
    var ip = 0
    var op = 0
    while (op < expected && ip < src.length) {
      val n = src(ip); ip += 1
      if (n >= 0) {
        val cnt = n + 1
        require(ip + cnt <= src.length && op + cnt <= expected,
          s"PackBits literal overrun at byte $ip ($op+$cnt/$expected)")
        System.arraycopy(src, ip, out, op, cnt)
        ip += cnt; op += cnt
      } else if (n != -128) {
        val cnt = 1 - n
        require(ip < src.length && op + cnt <= expected,
          s"PackBits run overrun at byte $ip ($op+$cnt/$expected)")
        java.util.Arrays.fill(out, op, op + cnt, src(ip))
        ip += 1; op += cnt
      }
    }
    require(op == expected, s"PackBits decoded $op of $expected bytes")
    out
  }

  /** PackBits encoder (for fixtures + the export path's symmetry with
    * [[packbitsDecompress]]): longest-run-first, literals batched ≤128. */
  private[graft] def packbitsCompress(src: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(src.length + src.length / 64 + 8)
    var i = 0
    var litStart = 0
    def flushLiterals(until: Int): Unit = {
      var s = litStart
      while (s < until) {
        val n = math.min(128, until - s)
        out.write(n - 1)
        out.write(src, s, n)
        s += n
      }
    }
    while (i < src.length) {
      var run = 1
      while (i + run < src.length && src(i + run) == src(i) && run < 128) run += 1
      if (run >= 3) {
        flushLiterals(i)
        out.write(1 - run) // two's-complement −(run−1)
        out.write(src(i))
        i += run
        litStart = i
      } else i += run
    }
    flushLiterals(src.length)
    out.toByteArray
  }

  /** TIFF predictor 2 (horizontal differencing): each SAMPLE is stored as
    * a delta vs the same sample one pixel left — accumulation is on whole
    * sample values (modular), per the sample's bit width and byte order. */
  private def undoPredictor2(data: Array[Byte], w: Int, nb: Int, bpp: Int,
      order: ByteOrder): Unit = {
    val rowBytes = w * nb * bpp
    val nRows = data.length / rowBytes
    bpp match {
      case 1 =>
        var row = 0
        while (row < nRows) {
          val base = row * rowBytes
          var i = nb
          while (i < rowBytes) {
            data(base + i) = (data(base + i) + data(base + i - nb)).toByte
            i += 1
          }
          row += 1
        }
      case 2 =>
        val bb = ByteBuffer.wrap(data).order(order)
        var row = 0
        while (row < nRows) {
          val base = row * rowBytes
          var i = nb * 2
          while (i < rowBytes) {
            bb.putShort(base + i,
              (bb.getShort(base + i) + bb.getShort(base + i - nb * 2)).toShort)
            i += 2
          }
          row += 1
        }
      case 4 =>
        val bb = ByteBuffer.wrap(data).order(order)
        var row = 0
        while (row < nRows) {
          val base = row * rowBytes
          var i = nb * 4
          while (i < rowBytes) {
            bb.putInt(base + i, bb.getInt(base + i) + bb.getInt(base + i - nb * 4))
            i += 4
          }
          row += 1
        }
      case other => sys.error(s"predictor 2 with $other-byte samples unsupported")
    }
  }

  /** TIFF predictor 3 (floating-point horizontal differencing, TIFF
    * Technical Note 3 — `gdal_translate -co PREDICTOR=3`, the standard
    * layout for compressed float DEM COGs). Per ROW, the encoder splits
    * samples into byte-significance planes (plane 0 = most significant
    * byte, regardless of the file's byte order), concatenates the planes,
    * then byte-differences the whole row with a stride of samples-per-
    * pixel. Decode reverses: byte-accumulate, then regather each sample's
    * bytes — emitted here in the FILE's byte order so the downstream
    * ByteBuffer reads are unchanged. */
  private def undoPredictor3(data: Array[Byte], w: Int, nb: Int, bpp: Int,
      order: ByteOrder): Unit = {
    val rowBytes = w * nb * bpp
    val nRows = data.length / rowBytes
    val wc = w * nb // samples per row
    val tmp = new Array[Byte](rowBytes)
    val le = order == ByteOrder.LITTLE_ENDIAN
    var row = 0
    while (row < nRows) {
      val base = row * rowBytes
      var i = nb
      while (i < rowBytes) {
        data(base + i) = (data(base + i) + data(base + i - nb)).toByte
        i += 1
      }
      var s = 0
      while (s < wc) {
        var b = 0
        while (b < bpp) {
          val v = data(base + b * wc + s)
          if (le) tmp(bpp * s + (bpp - 1 - b)) = v else tmp(bpp * s + b) = v
          b += 1
        }
        s += 1
      }
      System.arraycopy(tmp, 0, data, base, rowBytes)
      row += 1
    }
  }

  /** Sampler over a window raster: global pixel coords in, fill outside. */
  final class WindowSampler(raster: java.awt.image.Raster, ox: Int, oy: Int,
      fill: Double) extends PixelSampler {
    private val w = raster.getWidth
    private val h = raster.getHeight
    private val minX = raster.getMinX
    private val minY = raster.getMinY
    def sample(band: Int, px: Int, py: Int): Double = {
      val i = px - ox; val j = py - oy
      if (i < 0 || j < 0 || i >= w || j >= h) fill
      else raster.getSampleDouble(minX + i, minY + j, band)
    }
  }

  private final class ConstSampler(fill: Double) extends PixelSampler {
    def sample(band: Int, px: Int, py: Int): Double = fill
  }

  // --- mercator helpers ---

  def mercX(lon: Double): Double = Quadbin.EarthRadius * math.toRadians(lon)
  def mercY(lat: Double): Double =
    Quadbin.EarthRadius * math.log(math.tan(math.Pi / 4 + math.toRadians(lat) / 2))
  def invLon(mx: Double): Double = math.toDegrees(mx / Quadbin.EarthRadius)
  def invLat(my: Double): Double =
    math.toDegrees(math.atan(math.sinh(my / Quadbin.EarthRadius)))

  /** Source coords of a mercator point (identity for 3857 sources; UTM goes
    * through lon/lat and the forward transverse-mercator projection). */
  private def toSource(s: SourceInfo, mx: Double, my: Double): (Double, Double) =
    s.proj match {
      case graft.geo.WebMercator => (mx, my)
      case p => p.fromLonLat(invLon(mx), invLat(my)) // identity for Geographic
    }

  /** Mercator coords of a source point (identity for 3857). */
  private def srcToMerc(s: SourceInfo, cx: Double, cy: Double): (Double, Double) =
    s.proj match {
      case graft.geo.WebMercator => (cx, cy)
      case p => // identity for Geographic
        val (lon, lat) = p.toLonLat(cx, cy)
        (mercX(lon), mercY(clampLat(lat)))
    }

  /** Lon/lat of a source point. */
  private def srcToLonLat(s: SourceInfo, cx: Double, cy: Double): (Double, Double) =
    s.proj match {
      case graft.geo.WebMercator => (invLon(cx), invLat(cy))
      case p => // identity for Geographic
        val (lon, lat) = p.toLonLat(cx, cy); (lon, clampLat(lat))
    }

  /** Sample points of a source-pixel window for envelope computation: the
    * two corners for rectilinear projections (axis-aligned monotone maps);
    * a boundary sweep for UTM, whose meridian convergence bows the edges. */
  private def windowSamples(s: SourceInfo,
      win: (Int, Int, Int, Int)): Seq[(Double, Double)] = {
    val (wx, wy, ww, wh) = win
    def at(fx: Double, fy: Double) =
      (s.x0 + (wx + fx * ww) * s.dx, s.y0 + (wy + fy * wh) * s.dy)
    if (s.proj.rectilinear) Seq(at(0, 0), at(1, 1))
    else {
      val steps = 16
      (0 to steps).flatMap { k =>
        val f = k.toDouble / steps
        Seq(at(f, 0), at(f, 1), at(0, f), at(1, f))
      }
    }
  }

  /** meters/pixel via the window-diagonal transform, mirroring
    * `find_resolution` (`raster2raquet.py:672-697`). */
  def resolution(s: SourceInfo, win: (Int, Int, Int, Int)): Double = {
    val (wx, wy, ww, wh) = win
    val ax = s.x0 + wx * s.dx; val ay = s.y0 + wy * s.dy
    val bx = ax + ww * s.dx; val by = ay + wh * s.dy
    val (x1, y1) = srcToMerc(s, ax, ay)
    val (x2, y2) = srcToMerc(s, bx, by)
    math.hypot(x2 - x1, y2 - y1) / math.hypot(ww, wh)
  }

  private def clampLat(lat: Double): Double =
    math.max(-LatLimit + 1e-9, math.min(LatLimit - 1e-9, lat))

  /** Source pixel window clipped to web-mercator world bounds on BOTH axes
    * (`find_pixel_window`, `raster2raquet.py:632-669` — global sources can
    * overshoot ±180° and ±85° and must be cropped to the 0/0/0 tile). */
  def pixelWindow(s: SourceInfo): (Int, Int, Int, Int) = {
    // only geographic sources can overshoot the mercator world bounds
    // (projected CRSes — 3857, UTM — are defined inside them)
    if (!s.geographic) return (0, 0, s.width, s.height)
    val yTop = (LatLimit - s.y0) / s.dy    // dy < 0: row of north clip
    val yBot = (-LatLimit - s.y0) / s.dy
    val y3 = math.max(0, math.ceil(math.min(yTop, yBot)).toInt)
    val y4 = math.min(s.height, math.floor(math.max(yTop, yBot)).toInt)
    val xW = (-180.0 - s.x0) / s.dx
    val xE = (180.0 - s.x0) / s.dx
    val x3 = math.max(0, math.ceil(math.min(xW, xE)).toInt)
    val x4 = math.min(s.width, math.floor(math.max(xW, xE)).toInt)
    (x3, y3, x4 - x3, y4 - y3)
  }

  /** `find_zoom` (`raster2raquet.py:709-720`). */
  def findZoom(res: Double, blockZoom: Int, strategy: String): Int = {
    val raw = math.log(CE / (1 << blockZoom) / res) / math.log(2.0)
    // a source coarser than one z0 tile (planetary-scale NWP grids) still
    // lands at zoom 0 — negative zooms would corrupt the tile arithmetic
    math.max(0, strategy match {
      case "upper" => math.ceil(raw).toInt
      case "lower" => math.floor(raw).toInt
      case _ => math.round(raw).toInt
    })
  }

  /** `find_minzoom` (`raster2raquet.py:688-697`): coarsest zoom that still
    * renders the raster at ~128px. */
  def findMinZoom(w: Double, s0: Double, e: Double, n: Double,
      zoom: Int, blockZoom: Int): Int = {
    val big = 32
    val nTiles = (1L << big).toDouble
    def xf(lon: Double) = (lon + 180.0) / 360.0 * nTiles
    def yf(lat: Double) = {
      val r = math.toRadians(clampLat(lat))
      (1.0 - math.log(math.tan(r) + 1.0 / math.cos(r)) / math.Pi) / 2.0 * nTiles
    }
    val hiHypot = math.hypot(xf(e) - xf(w), yf(s0) - yf(n))
    val target = math.hypot(128, 128)
    val mz = big - math.log(hiHypot / target) / math.log(2.0) - blockZoom
    math.max(0, math.min(zoom, math.round(mz).toInt))
  }

  /** Cubic B-spline basis (GDAL GRA_CubicSpline's smoothing kernel). */
  private def bspline(t0: Double): Double = {
    val t = math.abs(t0)
    if (t < 1.0) (3 * t * t * t - 6 * t * t + 4) / 6.0
    else if (t < 2.0) { val u = 2.0 - t; u * u * u / 6.0 }
    else 0.0
  }

  /** Catmull-Rom cubic convolution, a = -0.5 (GDAL GRA_Cubic). */
  private def catmullRom(t0: Double): Double = {
    val t = math.abs(t0)
    if (t < 1.0) 1.5 * t * t * t - 2.5 * t * t + 1.0
    else if (t < 2.0) -0.5 * t * t * t + 2.5 * t * t - 4.0 * t + 2.0
    else 0.0
  }

  /** Lanczos windowed sinc, 3 lobes (GDAL GRA_Lanczos). */
  private def lanczos3(t0: Double): Double = {
    val t = math.abs(t0)
    if (t < 1e-12) 1.0
    else if (t >= 3.0) 0.0
    else {
      val pt = math.Pi * t
      3.0 * math.sin(pt) * math.sin(pt / 3.0) / (pt * pt)
    }
  }

  /** The 14 gdalwarp resampling algorithms [[warpTile]] implements
    * (`raster2raquet.py:82-101`), kernels first, then footprint statistics. */
  val WarpResamplings: Set[String] = scala.collection.immutable.ListSet(
    "near", "bilinear", "cubic", "cubicspline", "lanczos",
    "average", "sum", "rms", "min", "max", "med", "q1", "q3", "mode")

  private def unsupportedResampling(r: String): String =
    s"resampling $r unsupported — one of ${WarpResamplings.mkString("/")} " +
      "(gdalwarp -r, raster2raquet.py:82-101)"

  /** Warp one mercator tile from the source; null when every pixel is
    * nodata (empty-tile filter P6). Pixels come from `sampler` (a window
    * reader at scale, a full [[Source]] in tests).
    *
    * `resampling` covers all 14 of the reference's gdalwarp algorithms
    * (`raster2raquet.py:82-101`): the convolution kernels "near" (default),
    * "bilinear", "cubic" (Catmull-Rom), "cubicspline" (4×4 B-spline),
    * "lanczos" (3-lobe windowed sinc), and the footprint box statistics
    * "average"/"sum"/"rms"/"min"/"max"/"med"/"q1"/"q3"/"mode". Kernels are
    * nodata-aware: invalid/out-of-window neighbours drop out and the
    * remaining weights renormalize; a pixel whose nearest source sample is
    * nodata stays nodata. */
  def warpTile(s: SourceInfo, sampler: PixelSampler, band: Int,
      x: Long, y: Long, z: Int, bs: Int,
      win: (Int, Int, Int, Int), resampling: String = "near"): Array[Double] = {
    val mb = {
      val size = CE / (1L << z)
      val west = -CE / 2 + x * size
      val north = CE / 2 - y * size
      (west, north, size / bs)
    }
    val (wx, wy, ww, wh) = win
    // target pixels outside the source (or with no valid neighbourhood)
    // carry the declared nodata; with none declared, float sources fill
    // NaN (representable in the blob, masked by every kernel — a literal
    // 0.0 would fabricate a measurement that pollutes tile stats; found
    // via GRIB ingest, whose missing data is bitmap/NaN-coded) while
    // integer sources keep 0, the reference's own GDAL behavior
    // (`raster2raquet.py:739-748` fills only when nodata is declared, and
    // its stats mask non-finite values only for float dtypes, 526-545)
    val fill = s.nodata.getOrElse(noDataFill(s.dtype))
    def isValid(v: Double): Boolean = !(s.nodata.contains(v) || v.isNaN)
    def at(px: Int, py: Int): Double =
      if (px < wx || px >= wx + ww || py < wy || py >= wy + wh) fill
      else sampler.sample(band, px, py)

    /** Weighted neighbourhood sum with nodata renormalization. */
    def kernelAt(u: Double, v: Double, radius: Int,
        wfn: Double => Double): Double = {
      val i0 = math.floor(u - 0.5).toInt
      val j0 = math.floor(v - 0.5).toInt
      val nn = at(math.floor(u).toInt, math.floor(v).toInt)
      if (!isValid(nn)) return fill
      var num = 0.0; var den = 0.0
      var dj = -radius + 1
      while (dj <= radius) {
        val wy0 = wfn(v - 0.5 - (j0 + dj))
        if (wy0 != 0.0) {
          var di = -radius + 1
          while (di <= radius) {
            val wx0 = wfn(u - 0.5 - (i0 + di))
            if (wx0 != 0.0) {
              val pv = at(i0 + di, j0 + dj)
              if (isValid(pv)) { num += wx0 * wy0 * pv; den += wx0 * wy0 }
            }
            di += 1
          }
        }
        dj += 1
      }
      if (den <= 0.0) fill else num / den
    }

    /** Reduce the valid source pixels in the target pixel's footprint with
      * one of the box statistics (GDAL's average/sum/rms/min/max/med/q1/q3/
      * mode family). Quartiles use the lower-interpolation convention and
      * mode ties resolve to the smallest value, matching GDAL's overview
      * resamplers. */
    def footprintAt(u: Double, v: Double, su: Double, sv: Double,
        stat: String): Double = {
      val nn = at(math.floor(u).toInt, math.floor(v).toInt)
      if (!isValid(nn)) return fill
      val hu = math.max(0.5, su / 2); val hv = math.max(0.5, sv / 2)
      val i1 = math.floor(u - hu + 0.5).toInt
      val i2 = math.max(i1 + 1, math.ceil(u + hu - 0.5).toInt)
      val j1 = math.floor(v - hv + 0.5).toInt
      val j2 = math.max(j1 + 1, math.ceil(v + hv - 0.5).toInt)
      val vals = new java.util.ArrayList[java.lang.Double]()
      var j0 = j1
      while (j0 < j2) {
        var i0 = i1
        while (i0 < i2) {
          val pv = at(i0, j0)
          if (isValid(pv)) vals.add(pv)
          i0 += 1
        }
        j0 += 1
      }
      val n = vals.size
      if (n == 0) return fill
      stat match {
        case "average" | "sum" | "rms" =>
          var acc = 0.0
          var k = 0
          while (k < n) {
            val pv = vals.get(k)
            acc += (if (stat == "rms") pv * pv else pv.doubleValue); k += 1
          }
          if (stat == "sum") acc
          else if (stat == "rms") math.sqrt(acc / n)
          else acc / n
        case "min" | "max" | "med" | "q1" | "q3" =>
          val arr = new Array[Double](n)
          var k = 0
          while (k < n) { arr(k) = vals.get(k); k += 1 }
          java.util.Arrays.sort(arr)
          stat match {
            case "min" => arr(0)
            case "max" => arr(n - 1)
            case "med" => arr((n - 1) / 2)
            case "q1"  => arr((n - 1) / 4)
            case "q3"  => arr(3 * (n - 1) / 4)
          }
        case "mode" =>
          val arr = new Array[Double](n)
          var k = 0
          while (k < n) { arr(k) = vals.get(k); k += 1 }
          java.util.Arrays.sort(arr)
          var best = arr(0); var bestRun = 1
          var run = 1
          k = 1
          while (k < n) {
            if (arr(k) == arr(k - 1)) run += 1 else run = 1
            if (run > bestRun) { bestRun = run; best = arr(k) }
            k += 1
          }
          best
      }
    }

    // interpolated values on integer dtypes round like GDAL (encode would
    // otherwise truncate toward zero and bias the stats)
    val integral = s.dtype.startsWith("int") || s.dtype.startsWith("uint")

    def exactUV(mx: Double, my: Double): (Double, Double) = {
      val (sx, sy) = toSource(s, mx, my)
      ((sx - s.x0) / s.dx, (sy - s.y0) / s.dy)
    }
    // GDAL-style approximating transformer for non-rectilinear (UTM)
    // sources: the full Krüger forward per pixel would dominate the warp,
    // so each scanline evaluates exactly at span endpoints + midpoint and
    // fills linearly when the midpoint deviates < 1/64 source px, splitting
    // the span otherwise. UTM's curvature is smooth, so the midpoint is the
    // max error to 2nd order, and that error shrinks quadratically with
    // span length — the tight tolerance still needs only a handful of exact
    // evals per row. Geographic/3857 keep the exact per-pixel path
    // (bit-identical to before — their transform is separable and cheap).
    val approx = !s.proj.rectilinear
    def rowUV(my: Double): (Array[Double], Array[Double]) = {
      val us = new Array[Double](bs + 1)
      val vs = new Array[Double](bs + 1)
      def mxAt(i: Int) = mb._1 + (i + 0.5) * mb._3
      def fillSpan(i0: Int, i1: Int,
          u0: Double, v0: Double, u1: Double, v1: Double): Unit = {
        us(i0) = u0; vs(i0) = v0; us(i1) = u1; vs(i1) = v1
        if (i1 - i0 < 2) return
        val im = (i0 + i1) / 2
        val (um, vm) = exactUV(mxAt(im), my)
        val t = (im - i0).toDouble / (i1 - i0)
        if (math.abs(u0 + t * (u1 - u0) - um) <= 0.015625 &&
            math.abs(v0 + t * (v1 - v0) - vm) <= 0.015625) {
          var k = i0 + 1
          while (k < i1) {
            val tk = (k - i0).toDouble / (i1 - i0)
            us(k) = u0 + tk * (u1 - u0); vs(k) = v0 + tk * (v1 - v0)
            k += 1
          }
          us(im) = um; vs(im) = vm // keep the free exact midpoint
        } else {
          fillSpan(i0, im, u0, v0, um, vm)
          fillSpan(im, i1, um, vm, u1, v1)
        }
      }
      val (u0, v0) = exactUV(mxAt(0), my)
      val (u1, v1) = exactUV(mxAt(bs), my)
      fillSpan(0, bs, u0, v0, u1, v1)
      (us, vs)
    }
    val footprint = Set("average", "sum", "rms", "min", "max", "med",
      "q1", "q3", "mode").contains(resampling)

    val out = new Array[Double](bs * bs)
    var any = false
    var rowCur: (Array[Double], Array[Double]) = null
    var rowNext: (Array[Double], Array[Double]) =
      if (approx) rowUV(mb._2 - 0.5 * mb._3) else null
    var j = 0
    while (j < bs) {
      val my = mb._2 - (j + 0.5) * mb._3
      if (approx) {
        rowCur = rowNext
        rowNext = if (footprint || j < bs - 1) rowUV(my - mb._3) else rowCur
      }
      var i = 0
      while (i < bs) {
        val mx = mb._1 + (i + 0.5) * mb._3
        val (u, v) =
          if (approx) (rowCur._1(i), rowCur._2(i)) else exactUV(mx, my)
        val raw = resampling match {
          case "near" => at(math.floor(u).toInt, math.floor(v).toInt)
          case "bilinear" => kernelAt(u, v, 1, t => math.max(0.0, 1.0 - math.abs(t)))
          case "cubic" => kernelAt(u, v, 2, catmullRom)
          case "cubicspline" => kernelAt(u, v, 2, bspline)
          case "lanczos" => kernelAt(u, v, 3, lanczos3)
          case _ if footprint =>
            // footprint: one output step in source px, per axis
            val (su, sv) =
              if (approx)
                (math.abs(rowCur._1(i + 1) - u), math.abs(rowNext._2(i) - v))
              else {
                val (u1, v1) = exactUV(mx + mb._3, my - mb._3)
                (math.abs(u1 - u), math.abs(v1 - v))
              }
            footprintAt(u, v, su, sv, resampling)
          case other => throw new IllegalArgumentException(unsupportedResampling(other))
        }
        val value =
          if (integral && resampling != "near" && isValid(raw)) math.rint(raw)
          else raw
        out(j * bs + i) = value
        if (!any && isValid(value)) any = true
        i += 1
      }
      j += 1
    }
    if (any) out else null
  }

  /** Source-pixel bounding window of one target tile's sample points.
    * Geographic/mercator→source is separable and monotone per axis, so the
    * corner sample centers bound the whole tile; UTM edges bow, so a 3×3
    * sample grid bounds them (sub-pixel bow at tile scale) and the kernel
    * margin absorbs the rest. */
  def tileSourceWindow(s: SourceInfo, x: Long, y: Long, z: Int, bs: Int,
      win: (Int, Int, Int, Int)): (Int, Int, Int, Int) = {
    val size = CE / (1L << z)
    val west = -CE / 2 + x * size
    val north = CE / 2 - y * size
    val step = size / bs
    // UTM bows tile edges (meridian convergence): corner samples alone can
    // under-cover, so sample a 3×3 grid there; 2×2 corners suffice for the
    // separable monotone geographic/mercator maps
    val fs = if (s.proj.rectilinear) Seq(0.0, 1.0) else Seq(0.0, 0.5, 1.0)
    val mxs = fs.map(f => west + (0.5 + f * (bs - 1)) * step)
    val mys = fs.map(f => north - (0.5 + f * (bs - 1)) * step)
    val pts = for (mx <- mxs; my <- mys) yield {
      val (sx, sy) = toSource(s, mx, my)
      (math.floor((sx - s.x0) / s.dx).toInt, math.floor((sy - s.y0) / s.dy).toInt)
    }
    // margin: 3 px covers every convolution kernel's support (lanczos
    // reaches ±3 px around floor(u)); footprint statistics additionally
    // reach ±half an OUTPUT step in source px, which grows with the
    // downsampling ratio (an overview-passthrough level warped from a much
    // finer source has su = span/bs >> 1), so pad by the per-axis step too
    val (wx, wy, ww, wh) = win
    val xs = pts.map(_._1); val ys = pts.map(_._2)
    val padX = 3 + (xs.max - xs.min) / (2 * bs) + 1
    val padY = 3 + (ys.max - ys.min) / (2 * bs) + 1
    val x3 = math.max(wx, xs.min - padX)
    val x4 = math.min(wx + ww, xs.max + padX + 1)
    val y3 = math.max(wy, ys.min - padY)
    val y4 = math.min(wy + wh, ys.max + padY + 1)
    (x3, y3, x4 - x3, y4 - y3)
  }

  /** Budget for one shared windowed decode (raster bytes, not doubles). */
  final val MaxWindowBytes: Long = 64L << 20

  /** S6/M7: convert a GeoTIFF to a raquet file (single parquet file, like
    * the reference CLI). Returns the metadata written. */
  /** Web-mercator tile range [xtMin..xtMax]×[ytMin..ytMax] covering the
    * clipped source window at `zoom`. */
  private[raquet] def tileEnvelope(src: SourceInfo, win: (Int, Int, Int, Int),
      zoom: Int): (Long, Long, Long, Long) = {
    val (mxs, mys) = windowSamples(src, win)
      .map { case (cx, cy) => srcToMerc(src, cx, cy) }.unzip
    val n = (1L << zoom).toDouble
    def xt(mx: Double) = (mx + CE / 2) / CE * n
    def yt(my: Double) = (CE / 2 - my) / CE * n
    val xts = mxs.map(xt); val yts = mys.map(yt)
    (math.floor(xts.min + 1e-9).toLong,
      math.floor(xts.max - 1e-9).toLong,
      math.floor(yts.min + 1e-9).toLong,
      math.floor(yts.max - 1e-9).toLong)
  }

  /** One pyramid level's rows, warped from source IFD `ifd` at `zoom` —
    * the distributed per-task windowed-read pipeline. Returns (row,
    * per-band stats vector) pairs. */
  private def levelRows(spark: SparkSession, src: SourceInfo, ifd: Int,
      zoom: Int, bs: Int, win: (Int, Int, Int, Int), resampling: String,
      tileStats: Boolean = false, bandLayout: String = "sequential",
      compression: String = "gzip", quality: Option[Int] = None)
      : org.apache.spark.rdd.RDD[(Row, Seq[Array[Double]])] = {
    val (xtMin, xtMax, ytMin, ytMax) = tileEnvelope(src, win, zoom)
    // row-major tile order + contiguous split ⇒ each partition holds runs
    // of same-row neighbours that can share one windowed decode
    val tiles = for (ty <- ytMin to ytMax; tx <- xtMin to xtMax) yield (tx, ty)
    val bpp = PixelCodec.bytesPerPixel(src.dtype)
    spark.sparkContext
      .parallelize(tiles, math.max(1, math.min(tiles.size, 64)))
      .mapPartitions { it =>
        val fill = src.nodata.getOrElse(noDataFill(src.dtype))
        // greedy same-row runs whose union source window fits the budget
        val runs = scala.collection.mutable.ArrayBuffer.empty[Vector[(Long, Long)]]
        var cur = Vector.empty[(Long, Long)]
        var curBytes = 0L
        it.foreach { case t @ (tx, ty) =>
          val (_, _, tw, th) = tileSourceWindow(src, tx, ty, zoom, bs, win)
          val tb = math.max(0L, tw.toLong * th * src.bands * bpp)
          val contiguous = cur.nonEmpty && cur.last._2 == ty && cur.last._1 == tx - 1
          if (!contiguous || curBytes + tb > MaxWindowBytes) {
            if (cur.nonEmpty) runs += cur
            cur = Vector(t); curBytes = tb
          } else { cur :+= t; curBytes += tb }
        }
        if (cur.nonEmpty) runs += cur

        runs.iterator.flatMap { run =>
          // union window of a same-row run = x-span of ends × shared y-span
          val ws = run.map { case (tx, ty) =>
            tileSourceWindow(src, tx, ty, zoom, bs, win) }
          val x3 = ws.map(_._1).min
          val y3 = ws.map(_._2).min
          val x4 = ws.map(w0 => w0._1 + w0._3).max
          val y4 = ws.map(w0 => w0._2 + w0._4).max
          val sampler: PixelSampler =
            if (x4 <= x3 || y4 <= y3) new ConstSampler(fill)
            else new WindowSampler(
              readWindowRaster(src.path, x3, y3, x4 - x3, y4 - y3, ifd), x3, y3, fill)
          run.iterator.map { case (tx, ty) =>
            // the reference keeps all-nodata tiles at convert (the
            // empty-tile filter P6 belongs to the imageserver source), so
            // every enumerated tile becomes a row
            val bands = (0 until src.bands).map(b =>
              warpTile(src, sampler, b, tx, ty, zoom, bs, win, resampling))
            // sequential: one gzip blob per band column; interleaved: one
            // BIP `pixels` blob, gzip/none/jpeg/webp-lossless encoded
            // (reference `raster2raquet.py:806-867`; stats are computed
            // from the warped arrays BEFORE any lossy encode, as the
            // reference reads statistics pre-compression)
            val blobs: Seq[Array[Byte]] =
              if (bandLayout == "interleaved") {
                val raw = bands.map { arr =>
                  val a = if (arr != null) arr else Array.fill(bs * bs)(fill)
                  PixelCodec.encode(a, src.dtype, gzip = false)
                }
                val inter = Multimodal.interleave(raw.toArray, bpp)
                Seq(compression match {
                  case "gzip" => PixelCodec.gzipCompress(inter)
                  case "none" => inter
                  case "jpeg" =>
                    Multimodal.encodeJpeg(inter, bs, bs, src.bands,
                      quality.getOrElse(85))
                  case "webp" => quality match {
                    // the reference's Pillow path is LOSSY VP8 whenever a
                    // quality is given (raster2raquet.py:844-845); without
                    // one we keep the bit-exact VP8L default
                    case Some(q) => Multimodal.encodeWebPLossy(inter, bs, bs,
                      src.bands, q)
                    case None => Multimodal.encodeWebP(inter, bs, bs, src.bands)
                  }
                })
              } else bands.map { arr =>
                val a = if (arr != null) arr else Array.fill(bs * bs)(fill)
                PixelCodec.encode(a, src.dtype, gzip = true)
              }
            val statsVec = bands.map(a =>
              if (a == null) null
              else PixelCodec.maskedStats(a, src.nodata.getOrElse(Double.NaN), null))
            // dataset-level reduce payload: the 5 stat moments extended with
            // [5] total pixels (STATISTICS_VALID_PERCENT denominator) and,
            // for uint8, [6..261] exact per-DN histogram counts (GDAL's Byte
            // histogram: −0.5..255.5, 256 buckets). Doubles hold counts
            // exactly below 2^53.
            val histLen = if (src.dtype == "uint8") 256 else 0
            val extVec: Seq[Array[Double]] = bands.zip(statsVec).map { case (a, s) =>
              val ext = new Array[Double](6 + histLen)
              if (s == null) { ext(1) = Double.PositiveInfinity; ext(2) = Double.NegativeInfinity }
              else System.arraycopy(s, 0, ext, 0, 5)
              ext(5) = (bs.toLong * bs).toDouble
              if (histLen > 0 && a != null) {
                val nod = src.nodata.getOrElse(Double.NaN)
                var i = 0
                while (i < a.length) {
                  val v = a(i)
                  if (v != nod && !java.lang.Double.isNaN(v))
                    ext(6 + (v.toInt & 0xFF)) += 1.0
                  i += 1
                }
              }
              ext
            }
            val statCols =
              if (!tileStats) Seq.empty[Any]
              else statsVec.flatMap {
                // Seq[Any]: a bare Seq would numerically WIDEN the Long
                // count to Double and break the row encoder
                case null => Seq[Any](0L, null, null, null, null, null)
                case st => Seq[Any](st(0).toLong, st(1), st(2), st(3),
                  PixelCodec.statsMean(st), PixelCodec.statsStddev(st))
              }
            (Row.fromSeq(Seq(Quadbin.tileToCell(tx, ty, zoom), null) ++ blobs ++
              statCols), extVec)
          }
        }
      }
  }

  /** @param overviews "auto" = full pyramid down to the computed min zoom;
    *        "none" = native-resolution tiles only (CLI `--overviews`,
    *        `cli.py:393-398`)
    *  @param minZoomOverride pin the coarsest pyramid level (CLI
    *        `--min-zoom`, `cli.py:399-403`); clamped to [0, maxZoom]
    *  @param targetFileBytes CLI `--target-size` (`raster2raquet.py:
    *        1928-1936, 2265-2298`): when > 0, `outFile` becomes a DIRECTORY
    *        of Morton-sorted part files each targeting about this many
    *        encoded bytes (approximated by a row cap from the measured mean
    *        encoded row size, the Spark-native equivalent of the
    *        reference's roll-on-overflow writer)
    *  @param rowGroupBytes CLI `--row-group-size` analogue: parquet
    *        row-group budget (smaller groups → finer remote pruning) */
  def convert(spark: SparkSession, tifPath: String, outFile: String,
      blockZoom: Int = 8, zoomStrategy: String = "auto",
      tileStats: Boolean = false, resampling: String = "near",
      cogOverviews: Boolean = true, overviews: String = "auto",
      minZoomOverride: Option[Int] = None,
      targetFileBytes: Long = 0, rowGroupBytes: Long = 0,
      compression: String = "gzip",
      bandLayout: String = "sequential",
      quality: Option[Int] = None,
      overviewResampling: String = "average"): RaquetMetadata = {
    require(WarpResamplings(resampling), unsupportedResampling(resampling))
    require(Downsample.Resamplings(overviewResampling) ||
        Downsample.ConvWeights.contains(overviewResampling),
      s"overview resampling must be one of " +
        s"${(Downsample.Resamplings ++ Downsample.ConvWeights.keySet)
          .mkString("/")}, got $overviewResampling")
    quality.foreach { q =>
      require(q >= 0 && q <= 100, s"quality must be 0-100, got $q")
      require(compression == "jpeg" || compression == "webp",
        s"quality only applies to jpeg/webp compression, got $compression")
    }
    require(overviews == "auto" || overviews == "none",
      s"overviews must be auto or none, got $overviews")
    require(Set("gzip", "none", "jpeg", "webp")(compression),
      s"compression must be gzip/none/jpeg/webp, got $compression")
    require(bandLayout == "sequential" || bandLayout == "interleaved",
      s"band layout must be sequential or interleaved, got $bandLayout")
    // the reference's constraint set (`raster2raquet.py:800-845,2389-2401`):
    // lossy codecs need the interleaved layout and uint8 samples; JPEG has
    // no 4-band (RGBA) mode, WebP-lossless has no 2-band mode
    if (compression == "jpeg" || compression == "webp")
      require(bandLayout == "interleaved",
        s"$compression compression requires the interleaved band layout")
    val src = readInfo(tifPath) // tags only — driver never touches pixels
    if (compression == "jpeg" || compression == "webp") {
      require(src.dtype == "uint8",
        s"$compression compression requires uint8 samples, got ${src.dtype}")
      val okBands = if (compression == "jpeg") Set(1, 3) else Set(1, 3, 4)
      require(okBands(src.bands),
        s"$compression compression supports ${okBands.mkString("/")} bands, " +
          s"got ${src.bands}")
    }
    val bs = 1 << blockZoom
    val win = pixelWindow(src)
    // UTM zones 1/60 can legitimately cross ±180°; their mercator image is
    // then discontinuous (two windows). Fail loudly rather than enumerate a
    // world-spanning tile envelope. (TransverseMercator.toLonLat keeps
    // longitudes continuous around the central meridian, so a crossing
    // shows up as |lon| > 180 here.)
    if (!src.proj.rectilinear) {
      val lons = windowSamples(src, win)
        .map { case (cx, cy) => src.proj.toLonLat(cx, cy)._1 }
      require(lons.forall(l => l >= -180.0 && l <= 180.0),
        s"$tifPath: source crosses the antimeridian " +
          f"(lon range [${lons.min}%.3f, ${lons.max}%.3f]) — unsupported")
    }
    val res = resolution(src, win)
    val zoom = findZoom(res, blockZoom, zoomStrategy)
    val (xtMin, xtMax, ytMin, ytMax) = tileEnvelope(src, win, zoom)
    val bandNames = (1 to src.bands).map(k => s"band_$k")
    // per-tile statistics columns (spec raquet.md:96-121) when requested
    val statFields: Seq[StructField] =
      if (!tileStats) Seq.empty
      else bandNames.flatMap(b => Seq(
        StructField(s"${b}_count", LongType),
        StructField(s"${b}_min", DoubleType), StructField(s"${b}_max", DoubleType),
        StructField(s"${b}_sum", DoubleType), StructField(s"${b}_mean", DoubleType),
        StructField(s"${b}_stddev", DoubleType)))
    val payloadFields: Seq[StructField] =
      if (bandLayout == "interleaved") Seq(StructField("pixels", BinaryType))
      else bandNames.map(b => StructField(b, BinaryType))
    val schema = StructType(
      Seq(StructField("block", LongType, nullable = false),
        StructField("metadata", StringType)) ++ payloadFields ++ statFields)

    val rowsRdd = levelRows(spark, src, 0, zoom, bs, win, resampling, tileStats,
      bandLayout, compression, quality).cache()

    // dataset-level band stats (A5): distributed partial-merge reduce over
    // the extended vectors — [0] count +, [1] min, [2] max, [3] sum +,
    // [4] sum² +, [5] total px +, [6..] histogram counts +
    val globalStats = rowsRdd.map(_._2).reduce { (a, b) =>
      a.zip(b).map { case (x, y) =>
        val r = new Array[Double](x.length)
        r(0) = x(0) + y(0)
        r(1) = math.min(x(1), y(1)); r(2) = math.max(x(2), y(2))
        var i = 3
        while (i < r.length) { r(i) = x(i) + y(i); i += 1 }
        r
      }
    }
    val numBlocks = rowsRdd.count()

    val bounds = Array(
      Quadbin.tileWest(xtMin, zoom), Quadbin.tileSouth(ytMax, zoom),
      Quadbin.tileEast(xtMax, zoom), Quadbin.tileNorth(ytMin, zoom))
    // min_zoom derives from the SOURCE window bounds (rg bounds in
    // find_minzoom), not the tile-aligned envelope
    val (srcLons, srcLats) = windowSamples(src, win)
      .map { case (cx, cy) => srcToLonLat(src, cx, cy) }.unzip
    val colorinterp: Seq[String] =
      if (src.colortable.isDefined) Seq("palette")
      else src.bands match {
        case 1 => Seq("gray")
        case 2 => Seq("gray", "alpha")
        case 3 => Seq("red", "green", "blue")
        case _ => Seq("red", "green", "blue", "alpha") ++
          (5 to src.bands).map(_ => "undefined")
      }
    val minZoom =
      if (overviews == "none") zoom
      else minZoomOverride.map(z0 => math.max(0, math.min(zoom, z0)))
        .getOrElse(findMinZoom(srcLons.min, srcLats.min, srcLons.max,
          srcLats.max, zoom, blockZoom))
    val meta = RaquetMetadata(
      version = "0.5.0",
      width = (xtMax - xtMin + 1) * bs, height = (ytMax - ytMin + 1) * bs,
      crs = "EPSG:3857", bounds = bounds,
      compression = if (compression == "none") None else Some(compression),
      blockWidth = bs, blockHeight = bs,
      minZoom = minZoom, maxZoom = zoom, pixelZoom = zoom + blockZoom,
      numBlocks = numBlocks,
      bandLayout = bandLayout,
      bands = bandNames.zipWithIndex.map { case (bn, i) =>
        val g = globalStats(i)
        val hasData = g(0) > 0
        val st = if (hasData)
          Some((g(1), g(2), PixelCodec.statsMean(g), PixelCodec.statsStddev(g)))
        else None
        val vp = if (g(5) > 0) Some(g(0) / g(5) * 100.0) else None
        val hist = if (hasData && g.length == 262)
          Some(BandHistogram(-0.5, 255.5, 256,
            (6 until 262).map(k => g(k).toLong)))
        else None
        BandMeta(bn, src.dtype, src.nodata, None, None,
          Some(colorinterp(i)), src.colortable, stats = st,
          validPercent = vp, histogram = hist)
      },
      time = None)

    val native = spark.createDataFrame(rowsRdd.map(_._1), schema)
    // M6 COG overview passthrough: when the source carries reduced-
    // resolution IFDs, warp each pyramid level from the coarsest overview
    // that still resolves it (GDAL's warp-time overview selection) instead
    // of recomputing the pyramid from native tiles — overview I/O is
    // 4^Δz smaller than the base.
    val srcOverviews = if (cogOverviews) readOverviews(tifPath) else Seq.empty
    // interleaved layouts build every overview level by warping from the
    // source (the reference's VRT-descent shape) — Pyramid.build's 4-child
    // reduce operates on sequential band columns only
    val all =
      if (srcOverviews.isEmpty && bandLayout == "sequential")
        Pyramid.build(native, meta, minZoom, overviewResampling)
      else {
        val sources = (0, src) +: srcOverviews.zipWithIndex.map { case (o, i) => (i + 1, o) }
        (minZoom until zoom).foldLeft(native) { (acc, z) =>
          val targetRes = CE / (1L << z) / bs
          val usable = sources.filter { case (_, o) =>
            resolution(o, pixelWindow(o)) <= targetRes * (1 + 1e-9) }
          val (ifd, osrc) = usable.maxBy { case (_, o) =>
            resolution(o, pixelWindow(o)) }
          val lr = levelRows(spark, osrc, ifd, z, bs, pixelWindow(osrc),
            resampling, tileStats, bandLayout, compression, quality)
          acc.unionByName(spark.createDataFrame(lr.map(_._1), schema))
        }
      }
    if (targetFileBytes > 0) {
      // mean encoded row size from the cached native rows (pyramid rows are
      // strictly smaller); payload columns sit right after (block, metadata)
      val bandIdx =
        if (bandLayout == "interleaved") Seq(2) else bandNames.indices.map(_ + 2)
      val nativeBytes = rowsRdd.map { case (row, _) =>
        bandIdx.map(i => Option(row.getAs[Array[Byte]](i))
          .map(_.length.toLong).getOrElse(0L)).sum
      }.reduce(_ + _)
      val avgRow = math.max(1L, nativeBytes / math.max(1L, numBlocks)) + 64
      val cap = math.max(1L, targetFileBytes / avgRow)
      RaquetIO.write(all, meta, outFile, maxRecordsPerFile = cap,
        rowGroupBytes = rowGroupBytes)
    } else RaquetIO.writeSingleFile(all, meta, outFile, rowGroupBytes)
    rowsRdd.unpersist()
    meta
  }

  // --- S10: raquet → GeoTIFF export (driver-side single writer, matching
  //     the reference's process model, raquet2geotiff.py:363-405) ---

  /** GeoTIFF export sink (S10): mosaic the dataset back into one striped
    * GeoTIFF, STREAMING one tile-row at a time through a sorted
    * `toLocalIterator` — driver memory is O(width x blockHeight x bands),
    * not O(mosaic), so there is no total-size cap (the reference's
    * single-process writer shape, `raquet/raquet2geotiff.py:363-405`,
    * without its whole-raster buffer). Outputs past the classic-TIFF 4 GB
    * limit become BigTIFF automatically, and with `overviews = true` the
    * dataset's pyramid levels are written as reduced-resolution IFDs — a
    * COG layout that [[readOverviews]]/[[convert]] ingest without
    * recomputing the pyramid (M6 round-trip). */
  def export(spark: SparkSession, raquetPath: String, outTif: String,
      overviews: Boolean = true): Unit = {
    val ds = RaquetIO.read(spark, raquetPath)
    val m = ds.meta
    import graft.functions.GraftFunctions.{quadbin_tile_x, quadbin_tile_y, quadbin_zoom}
    import org.apache.spark.sql.functions.{count => fCount, lit, max => fMax, min => fMin}
    def levelDf(z: Int) = ds.data.filter(quadbin_zoom(column("block")) === z)
      .select((Seq(
        quadbin_tile_x(column("block")).as("_tx"),
        quadbin_tile_y(column("block")).as("_ty")) ++
        m.bands.map(b => column(b.name))): _*)
    val native = levelDf(m.maxZoom)
    val ext = native.agg(fMin(column("_tx")), fMax(column("_tx")),
      fMin(column("_ty")), fMax(column("_ty")), fCount(lit(1))).head()
    require(ext.getLong(4) > 0, "no native-zoom tiles")
    val (xMin, xMax, yMin, yMax) = (ext.getLong(0), ext.getLong(1), ext.getLong(2), ext.getLong(3))
    val bs = m.blockWidth
    val w = ((xMax - xMin + 1) * bs).toInt
    val h = ((yMax - yMin + 1) * bs).toInt
    // TIFF requires one sample type for all bands: keep it when uniform,
    // promote to float64 for mixed-type datasets
    val dtype =
      if (m.bands.map(_.bandType).distinct.size == 1) m.bands.head.bandType
      else "float64"
    val bpp = PixelCodec.bytesPerPixel(dtype)
    val nb = m.bands.size
    val fill = m.bands.head.nodata.getOrElse(0.0)
    val rowsPerStrip = math.min(64, bs)

    /** Strips of one pyramid level rendered as an image of `w2`x`h2` px
      * with global zoom-`z` pixel origin (ox, oy). Tiles stream in
      * (ty, tx) order; at most two decoded tile-rows stay cached (overview
      * origins are not tile-aligned, so a strip can straddle a boundary). */
    def levelStrips(z: Int, ox: Long, oy: Long, w2: Int, h2: Int): Iterator[Array[Byte]] = {
      val rows = levelDf(z).orderBy(column("_ty").asc, column("_tx").asc).toLocalIterator()
      val cache = scala.collection.mutable.SortedMap.empty[Long, scala.collection.mutable.Map[Long, Array[Array[Double]]]]
      var pending: Row = null
      def pullThrough(ty: Long): Unit = {
        var done = false
        while (!done) {
          if (pending == null && rows.hasNext) pending = rows.next()
          if (pending == null) done = true
          else if (pending.getLong(1) > ty) done = true
          else {
            val r = pending; pending = null
            val bands = Array.tabulate(nb) { b =>
              val blob = r.getAs[Array[Byte]](b + 2)
              if (blob == null) null else PixelCodec.decode(blob, m.bands(b).bandType)
            }
            cache.getOrElseUpdate(r.getLong(1),
              scala.collection.mutable.Map.empty) += (r.getLong(0) -> bands)
          }
        }
      }
      val nStrips = (h2 + rowsPerStrip - 1) / rowsPerStrip
      (0 until nStrips).iterator.map { si =>
        val j0 = si * rowsPerStrip
        val j1 = math.min(h2, j0 + rowsPerStrip)
        val tyFirst = (oy + j0) / bs
        val tyLast = (oy + j1 - 1) / bs
        pullThrough(tyLast)
        cache.keys.takeWhile(_ < tyFirst).toList.foreach(cache.remove)
        val bb = java.nio.ByteBuffer.allocate((j1 - j0) * w2 * nb * bpp)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        var j = j0
        while (j < j1) {
          val gy = oy + j
          val rowTiles = cache.getOrElse(gy / bs, null)
          val py = (gy % bs).toInt
          var i = 0
          while (i < w2) {
            val gx = ox + i
            val tile = if (rowTiles == null) null else rowTiles.getOrElse(gx / bs, null)
            val px = (gx % bs).toInt
            var b = 0
            while (b < nb) {
              val arr = if (tile == null) null else tile(b)
              TiffWriter.putSample(bb, dtype,
                if (arr == null) fill else arr(py * bs + px))
              b += 1
            }
            i += 1
          }
          j += 1
        }
        bb.array()
      }
    }

    // overview IFDs: one per pyramid level, while the halved grid stays
    // pixel-aligned (always true for k <= log2(blockWidth))
    val kMax =
      if (!overviews) 0
      else math.min(m.maxZoom - m.minZoom, Integer.numberOfTrailingZeros(bs))
    val images = (0 to kMax).map { k =>
      val z = m.maxZoom - k
      TiffWriter.TiffImage((w >> k), (h >> k), rowsPerStrip,
        () => levelStrips(z, (xMin * bs) >> k, (yMin * bs) >> k, w >> k, h >> k),
        reduced = k > 0)
    }
    val size = CE / (1L << m.maxZoom)
    TiffWriter.writeImages(outTif, dtype, nb,
      pixelSize = size / bs,
      originX = -CE / 2 + xMin * size, originY = CE / 2 - yMin * size,
      nodata = m.bands.head.nodata, images)
  }
}

/** Minimal little-endian GeoTIFF writer: uncompressed, chunky-interleaved,
  * striped, ModelPixelScale/ModelTiepoint/GeoKeyDirectory (EPSG:3857) +
  * GDAL_NODATA tags. Readable by GDAL and by the JDK TIFF plugin (which the
  * round-trip test uses).
  *
  * Two surfaces: [[write]] takes fully-materialized band arrays (test /
  * small-mosaic convenience); [[writeStrips]] STREAMS interleaved strip
  * buffers to disk — the uncompressed layout is fully deterministic, so the
  * header, IFD and strip offsets are written first and pixel data flows
  * through a bounded buffer (no whole-mosaic allocation). Outputs larger
  * than the classic-TIFF 4 GB offset limit switch to BigTIFF (version 43,
  * 8-byte offsets) automatically.
  */
object TiffWriter {

  /** Legacy in-memory API: interleaves `bands` strip by strip and streams. */
  def write(path: String, w: Int, h: Int, dtype: String,
      bands: Array[Array[Double]], pixelSize: Double,
      originX: Double, originY: Double, nodata: Option[Double]): Unit = {
    val nb = bands.length
    val bpp = PixelCodec.bytesPerPixel(dtype)
    val rowsPerStrip = 64
    val nStrips = (h + rowsPerStrip - 1) / rowsPerStrip
    val strips = (0 until nStrips).iterator.map { s0 =>
      val rows = math.min(rowsPerStrip, h - s0 * rowsPerStrip)
      val bb = ByteBuffer.allocate(rows * w * nb * bpp).order(ByteOrder.LITTLE_ENDIAN)
      var p = s0 * rowsPerStrip * w
      val end = p + rows * w
      while (p < end) {
        var b = 0
        while (b < nb) {
          putSample(bb, dtype, bands(b)(p))
          b += 1
        }
        p += 1
      }
      bb.array()
    }
    writeStrips(path, w, h, dtype, nb, pixelSize, originX, originY, nodata,
      rowsPerStrip, strips)
  }

  private[raquet] def putSample(bb: ByteBuffer, dtype: String, v: Double): Unit =
    dtype match {
      case "uint8" | "int8" => bb.put(v.toInt.toByte)
      case "uint16" | "int16" => bb.putShort(v.toInt.toShort)
      case "uint32" | "int32" => bb.putInt(v.toLong.toInt)
      case "float32" => bb.putFloat(v.toFloat)
      case "float64" => bb.putDouble(v)
      case other => throw new IllegalArgumentException(s"tiff dtype $other")
    }

  /** Tiled-layout writer (tags 322/323/324/325 — the COG interior layout):
    * chops `bands` into `tileW`×`tileL` chunks, edge tiles PADDED to full
    * size with `nodata` (TIFF spec §Image Tiles), optionally
    * deflate-compressed, classic or BigTIFF. Exists so the direct reader's
    * tiled path has a same-repo producer to differential-test against
    * (real-world producers: gdal_translate -co TILED=YES). */
  def writeTiled(path: String, w: Int, h: Int, dtype: String,
      bands: Array[Array[Double]], pixelSize: Double,
      originX: Double, originY: Double, nodata: Option[Double],
      tileW: Int = 256, tileL: Int = 256, compression: Int = 1,
      forceBig: Boolean = false, epsg: Int = 3857, planar: Int = 1,
      predictor: Int = 1): Unit = {
    require(compression == 1 || compression == 8 || compression == 32773,
      s"writeTiled compression $compression (1=none, 8=deflate, 32773=PackBits)")
    require(predictor == 1 || predictor == 2 || predictor == 3,
      s"writeTiled predictor $predictor")
    val isFloat = dtype == "float32" || dtype == "float64"
    require(predictor != 3 || isFloat, "predictor 3 requires a float dtype")
    require(predictor != 2 || !isFloat, "predictor 2 requires an integer dtype")
    val nb = bands.length
    val bpp = PixelCodec.bytesPerPixel(dtype)
    val across = (w + tileW - 1) / tileW
    val down = (h + tileL - 1) / tileL
    val fill = nodata.getOrElse(0.0)
    // planar 2 = band-major tile grids; each chunk carries one band's samples
    val chunkBands: Seq[Seq[Int]] =
      if (planar == 2) (0 until nb).map(Seq(_)) else Seq(0 until nb)
    val tiles = for {
      bs <- chunkBands
      tr <- 0 until down
      tc <- 0 until across
    } yield {
      val bb = ByteBuffer.allocate(tileW * tileL * bs.size * bpp)
        .order(ByteOrder.LITTLE_ENDIAN)
      var j = 0
      while (j < tileL) {
        val gy = tr * tileL + j
        var i = 0
        while (i < tileW) {
          val gx = tc * tileW + i
          val inside = gx < w && gy < h
          bs.foreach { b =>
            putSample(bb, dtype, if (inside) bands(b)(gy * w + gx) else fill)
          }
          i += 1
        }
        j += 1
      }
      val raw = bb.array()
      if (predictor == 2)
        encodePredictor2(raw, tileW, bs.size, bpp)
      else if (predictor == 3)
        encodePredictor3(raw, tileW, bs.size, bpp)
      compression match {
        case 8 =>
          val d = new java.util.zip.Deflater()
          d.setInput(raw); d.finish()
          val buf = new Array[Byte](raw.length + 64)
          var n = 0
          while (!d.finished()) n += d.deflate(buf, n, buf.length - n)
          d.end()
          java.util.Arrays.copyOf(buf, n)
        case 32773 => GeoTiff.packbitsCompress(raw)
        case _ => raw
      }
    }
    writeTiledRaw(path, w, h, dtype, nb, tileW, tileL, compression,
      tiles, jpegTables = None, pixelSize = pixelSize, originX = originX,
      originY = originY, nodata = nodata, forceBig = forceBig, epsg = epsg,
      planar = planar, predictor = predictor)
  }

  /** Predictor 2 encode (inverse of the reader's accumulate): per row,
    * right-to-left, each sample becomes its delta vs one pixel left.
    * Tile chunks are little-endian (this writer's layout). */
  private[raquet] def encodePredictor2(data: Array[Byte], w: Int, nb: Int,
      bpp: Int): Unit = {
    val rowBytes = w * nb * bpp
    val nRows = data.length / rowBytes
    val bb = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
    var row = 0
    while (row < nRows) {
      val base = row * rowBytes
      bpp match {
        case 1 =>
          var i = rowBytes - 1
          while (i >= nb) {
            data(base + i) = (data(base + i) - data(base + i - nb)).toByte
            i -= 1
          }
        case 2 =>
          var i = rowBytes - 2
          while (i >= nb * 2) {
            bb.putShort(base + i,
              (bb.getShort(base + i) - bb.getShort(base + i - nb * 2)).toShort)
            i -= 2
          }
        case 4 =>
          var i = rowBytes - 4
          while (i >= nb * 4) {
            bb.putInt(base + i, bb.getInt(base + i) - bb.getInt(base + i - nb * 4))
            i -= 4
          }
        case other => sys.error(s"predictor 2 encode with $other-byte samples")
      }
      row += 1
    }
  }

  /** Predictor 3 encode (TIFF TechNote 3): per row, split samples into
    * byte-significance planes (plane 0 = MSB; source chunks are
    * little-endian), then byte-difference the concatenated planes with a
    * stride of samples-per-pixel, right-to-left. */
  private[raquet] def encodePredictor3(data: Array[Byte], w: Int, nb: Int,
      bpp: Int): Unit = {
    val rowBytes = w * nb * bpp
    val nRows = data.length / rowBytes
    val wc = w * nb
    val tmp = new Array[Byte](rowBytes)
    var row = 0
    while (row < nRows) {
      val base = row * rowBytes
      var s = 0
      while (s < wc) {
        var b = 0
        while (b < bpp) {
          tmp(b * wc + s) = data(base + bpp * s + (bpp - 1 - b))
          b += 1
        }
        s += 1
      }
      var i = rowBytes - 1
      while (i >= nb) {
        tmp(i) = (tmp(i) - tmp(i - nb)).toByte
        i -= 1
      }
      System.arraycopy(tmp, 0, data, base, rowBytes)
      row += 1
    }
  }

  /** Low-level tiled writer over PRE-ENCODED tile chunks in row-major
    * (tileRow, tileCol) order — the JPEG-in-TIFF fixture path hands this
    * abbreviated JPEG streams plus the shared `jpegTables` (tag 347).
    * `planar = 2` writes band-separate layout: one full tile grid per
    * band, band-major in the chunk tables. */
  def writeTiledRaw(path: String, w: Int, h: Int, dtype: String, nb: Int,
      tileW: Int, tileL: Int, compression: Int, tiles: Seq[Array[Byte]],
      jpegTables: Option[Array[Byte]], pixelSize: Double,
      originX: Double, originY: Double, nodata: Option[Double],
      forceBig: Boolean = false, epsg: Int = 3857,
      photometric: Int = 1, planar: Int = 1, predictor: Int = 1): Unit = {
    val bpp = PixelCodec.bytesPerPixel(dtype)
    val (sampleFormat, bits) = dtype match {
      case "uint8" | "uint16" | "uint32" => (1, bpp * 8)
      case "int8" | "int16" | "int32" => (2, bpp * 8)
      case "float32" | "float64" => (3, bpp * 8)
      case other => throw new IllegalArgumentException(s"tiff dtype $other")
    }
    val across = (w + tileW - 1) / tileW
    val down = (h + tileL - 1) / tileL
    require(planar == 1 || planar == 2, s"planar $planar")
    val grids = if (planar == 2) nb else 1
    require(tiles.size == across * down * grids,
      s"${tiles.size} tiles for a ${across}x$down grid ×$grids planes")
    val big = forceBig || tiles.map(_.length.toLong).sum + (4L << 20) > 0xFFFF0000L
    val headerSize = if (big) 16 else 8
    val entrySize = if (big) 20 else 12
    val inlineCap = if (big) 8 else 4
    val offType = if (big) 16 else 4
    val offElem = if (big) 8 else 4

    final case class Tag(id: Int, ttype: Int, count: Long, inline: Long)
    def shorts(vs: Seq[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => bb.putShort(v.toShort)); bb.array()
    }
    def doubles(vs: Seq[Double]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble); bb.array()
    }
    val nodataStr = nodata.map(v =>
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString)
    val nTags = 15 + nodataStr.size + jpegTables.size +
      (if (predictor != 1) 1 else 0)
    val ifdAt = headerSize.toLong
    val ifdSize = (if (big) 8 else 2) + nTags * entrySize + (if (big) 8 else 4)
    var cursor = ifdAt + ifdSize
    val payloads = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    def alloc(bytes: Array[Byte]): Long = {
      val at = cursor
      payloads += ((at, bytes))
      cursor += bytes.length
      if (cursor % 2 == 1) cursor += 1
      at
    }
    def tagArr(id: Int, ttype: Int, count: Long, bytes: Array[Byte]): Tag =
      if (bytes.length <= inlineCap)
        Tag(id, ttype, count, ByteBuffer.wrap(java.util.Arrays.copyOf(bytes, 8))
          .order(ByteOrder.LITTLE_ENDIAN).getLong)
      else Tag(id, ttype, count, alloc(bytes))

    val bitsTag = tagArr(258, 3, nb, shorts(Seq.fill(nb)(bits)))
    val sfTag = tagArr(339, 3, nb, shorts(Seq.fill(nb)(sampleFormat)))
    val scaleTag = Tag(33550, 12, 3, alloc(doubles(Seq(pixelSize, pixelSize, 0.0))))
    val tieTag = Tag(33922, 12, 6, alloc(doubles(Seq(0, 0, 0, originX, originY, 0))))
    val geoKeys =
      if (epsg == 4326) Seq(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
      else Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, epsg)
    val geoTag = Tag(34735, 3, geoKeys.length, alloc(shorts(geoKeys)))
    val nodataTag = nodataStr.map(s0 =>
      tagArr(42113, 2, s0.length + 1, (s0 + "\u0000").getBytes("ASCII")))
    val jtTag = jpegTables.map(t => tagArr(347, 7, t.length, t))
    def offsetsArr(vs: Seq[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * offElem).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => if (big) bb.putLong(v) else bb.putInt(v.toInt)); bb.array()
    }
    val countsTag = tagArr(325, offType, tiles.size,
      offsetsArr(tiles.map(_.length.toLong)))
    // tile data start is only known after ALL payloads (incl. the offsets
    // array reservation) are allocated — reserve, then patch
    val offsetsPos =
      if (tiles.size.toLong * offElem <= inlineCap) -1L
      else alloc(new Array[Byte](tiles.size * offElem))
    val dataStart = cursor
    val tileOffsets = tiles.map(_.length.toLong).scanLeft(dataStart)(_ + _).init
    val offsetsTag =
      if (offsetsPos < 0) Tag(324, offType, tiles.size, tileOffsets.head)
      else Tag(324, offType, tiles.size, offsetsPos)

    val tags = (Seq(
      Tag(256, 4, 1, w.toLong), Tag(257, 4, 1, h.toLong), bitsTag,
      Tag(259, 3, 1, compression.toLong), Tag(262, 3, 1, photometric.toLong),
      Tag(277, 3, 1, nb.toLong), Tag(284, 3, 1, planar.toLong),
      Tag(322, 4, 1, tileW.toLong), Tag(323, 4, 1, tileL.toLong),
      countsTag, offsetsTag, sfTag, scaleTag, tieTag, geoTag) ++
      (if (predictor != 1) Seq(Tag(317, 3, 1, predictor.toLong)) else Nil) ++
      nodataTag ++ jtTag).sortBy(_.id)
    require(tags.length == nTags, s"planned $nTags tags, built ${tags.length}")

    val head = ByteBuffer.allocate(dataStart.toInt).order(ByteOrder.LITTLE_ENDIAN)
    if (big) {
      head.put('I'.toByte).put('I'.toByte).putShort(43)
      head.putShort(8).putShort(0).putLong(ifdAt)
    } else {
      head.put('I'.toByte).put('I'.toByte).putShort(42)
      head.putInt(ifdAt.toInt)
    }
    head.position(ifdAt.toInt)
    if (big) head.putLong(tags.length.toLong) else head.putShort(tags.length.toShort)
    tags.foreach { t =>
      head.putShort(t.id.toShort).putShort(t.ttype.toShort)
      if (big) { head.putLong(t.count); head.putLong(t.inline) }
      else { head.putInt(t.count.toInt); head.putInt(t.inline.toInt) }
    }
    if (big) head.putLong(0L) else head.putInt(0) // no next IFD
    payloads.foreach { case (at, bytes) =>
      head.position(at.toInt); head.put(bytes)
    }
    if (offsetsPos >= 0) {
      head.position(offsetsPos.toInt)
      tileOffsets.foreach(o => if (big) head.putLong(o) else head.putInt(o.toInt))
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 4 << 20)
    try {
      out.write(head.array())
      tiles.foreach(out.write)
    } finally out.close()
  }

  /** Streamed writer: `strips` must yield exactly `ceil(h/rowsPerStrip)`
    * buffers of `rows*w*nb*bpp` bytes (chunky-interleaved, little-endian). */
  def writeStrips(path: String, w: Int, h: Int, dtype: String, nb: Int,
      pixelSize: Double, originX: Double, originY: Double,
      nodata: Option[Double], rowsPerStrip: Int,
      strips: Iterator[Array[Byte]], forceBig: Boolean = false,
      epsg: Int = 3857,
      geoKeysOverride: Option[(Seq[Int], Seq[Double])] = None): Unit =
    writeImages(path, dtype, nb, pixelSize, originX, originY, nodata,
      Seq(TiffImage(w, h, rowsPerStrip, () => strips)), forceBig, epsg,
      geoKeysOverride)

  /** One image (IFD) of a multi-image file; `reduced` marks COG overview
    * levels (NewSubfileType = 1). */
  final case class TiffImage(w: Int, h: Int, rowsPerStrip: Int,
      strips: () => Iterator[Array[Byte]], reduced: Boolean = false)

  /** Multi-image streamed writer: image 0 is the full-resolution IFD with
    * the geo tags; images 1..n are reduced-resolution overviews (a COG
    * layout readable back by [[GeoTiff.readOverviews]]). All IFDs and tag
    * payloads are written up front — the uncompressed strip layout is fully
    * deterministic — then every image's pixel data streams through a
    * bounded buffer. Switches to BigTIFF past the 4 GB offset limit. */
  def writeImages(path: String, dtype: String, nb: Int,
      pixelSize: Double, originX: Double, originY: Double,
      nodata: Option[Double], images: Seq[TiffImage],
      forceBig: Boolean = false, epsg: Int = 3857,
      geoKeysOverride: Option[(Seq[Int], Seq[Double])] = None): Unit = {
    val bpp = PixelCodec.bytesPerPixel(dtype)
    val (sampleFormat, bits) = dtype match {
      case "uint8" | "uint16" | "uint32" => (1, bpp * 8)
      case "int8" | "int16" | "int32" => (2, bpp * 8)
      case "float32" | "float64" => (3, bpp * 8)
      case other => throw new IllegalArgumentException(s"tiff dtype $other")
    }
    val nodataStr = nodata.map(v =>
      if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString)

    final case class ImgLayout(img: TiffImage, nStrips: Int, stripCounts: Seq[Long])
    val layouts = images.map { im =>
      val nStrips = (im.h + im.rowsPerStrip - 1) / im.rowsPerStrip
      val rowBytes = im.w.toLong * nb * bpp
      ImgLayout(im, nStrips, (0 until nStrips).map { s0 =>
        math.min(im.rowsPerStrip.toLong, im.h - s0.toLong * im.rowsPerStrip) * rowBytes
      })
    }
    val dataBytes = layouts.map(_.stripCounts.sum).sum
    val big = forceBig || dataBytes + (4L << 20) > 0xFFFF0000L

    val headerSize = if (big) 16 else 8
    val entrySize = if (big) 20 else 12
    val inlineCap = if (big) 8 else 4
    val offType = if (big) 16 else 4 // LONG8 vs LONG
    val offElem = if (big) 8 else 4

    final case class Tag(id: Int, ttype: Int, count: Long, inline: Long)
    def shorts(vs: Seq[Int]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 2).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => bb.putShort(v.toShort)); bb.array()
    }
    def offsetsArr(vs: Seq[Long]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * offElem).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(v => if (big) bb.putLong(v) else bb.putInt(v.toInt)); bb.array()
    }
    def doubles(vs: Seq[Double]): Array[Byte] = {
      val bb = ByteBuffer.allocate(vs.length * 8).order(ByteOrder.LITTLE_ENDIAN)
      vs.foreach(bb.putDouble); bb.array()
    }

    // the override path writes GeoDoubleParams (34736) as a 15th tag;
    // undercounting here would let the last IFD entry overwrite the first
    // payload's leading bytes (the reserved region would be one entry short)
    def nTagsOf(first: Boolean): Int =
      (if (first) 14 + (if (geoKeysOverride.isDefined) 1 else 0) else 12) +
        nodataStr.size
    def ifdSizeOf(first: Boolean): Int =
      (if (big) 8 else 2) + nTagsOf(first) * entrySize + (if (big) 8 else 4)

    var cursor = headerSize.toLong
    val payloads = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    def alloc(bytes: Array[Byte]): Long = {
      val at = cursor
      payloads += ((at, bytes))
      cursor += bytes.length
      if (cursor % 2 == 1) cursor += 1 // word-align
      at
    }

    // pass 1: per image, reserve its IFD slot then its variable payloads
    final case class Planned(ifdAt: Long, first: Boolean, l: ImgLayout,
        tagsPre: Seq[Tag], offsetsPos: Long)
    val planned = layouts.zipWithIndex.map { case (l, idx) =>
      val first = idx == 0
      val ifdAt = cursor
      cursor += ifdSizeOf(first)
      def tagArr(id: Int, ttype: Int, count: Long, bytes: Array[Byte]): Tag =
        if (bytes.length <= inlineCap)
          Tag(id, ttype, count, ByteBuffer.wrap(java.util.Arrays.copyOf(bytes, 8))
            .order(ByteOrder.LITTLE_ENDIAN).getLong)
        else Tag(id, ttype, count, alloc(bytes))
      val bitsTag = tagArr(258, 3, nb, shorts(Seq.fill(nb)(bits)))
      val sfTag = tagArr(339, 3, nb, shorts(Seq.fill(nb)(sampleFormat)))
      val countsTag = tagArr(279, offType, l.nStrips, offsetsArr(l.stripCounts))
      val offsetsPos =
        if (l.nStrips.toLong * offElem <= inlineCap) -1L
        else alloc(new Array[Byte](l.nStrips * offElem))
      val geoTags: Seq[Tag] =
        if (!first) Seq(Tag(254, 4, 1, 1L))
        else {
          val scaleTag = Tag(33550, 12, 3, alloc(doubles(Seq(pixelSize, pixelSize, 0.0))))
          val tieTag = Tag(33922, 12, 6, alloc(doubles(Seq(0, 0, 0, originX, originY, 0))))
          // geographic CRSes key GeographicType (2048), projected key
          // ProjectedCSType (3072); geoKeysOverride supplies a full custom
          // directory + GeoDoubleParams (user-defined projections)
          geoKeysOverride match {
            case Some((gk, dbl)) =>
              Seq(scaleTag, tieTag,
                Tag(34735, 3, gk.length, alloc(shorts(gk))),
                Tag(34736, 12, dbl.length, alloc(doubles(dbl))))
            case None =>
              val geoKeys =
                if (epsg == 4326)
                  Seq(1, 1, 0, 3, 1024, 0, 1, 2, 1025, 0, 1, 1, 2048, 0, 1, 4326)
                else
                  Seq(1, 1, 0, 3, 1024, 0, 1, 1, 1025, 0, 1, 1, 3072, 0, 1, epsg)
              Seq(scaleTag, tieTag,
                Tag(34735, 3, geoKeys.length, alloc(shorts(geoKeys))))
          }
        }
      val nodataTag = nodataStr.map { s0 =>
        tagArr(42113, 2, s0.length + 1, (s0 + "\u0000").getBytes("ASCII"))
      }
      val tagsPre = Seq(
        // LONG (not SHORT) dims: a streamed mosaic routinely exceeds 65535 px
        Tag(256, 4, 1, l.img.w.toLong),
        Tag(257, 4, 1, l.img.h.toLong),
        bitsTag,
        Tag(259, 3, 1, 1L), // uncompressed
        Tag(262, 3, 1, 1L), // BlackIsZero
        Tag(277, 3, 1, nb.toLong),
        Tag(278, 4, 1, l.img.rowsPerStrip.toLong),
        countsTag,
        Tag(284, 3, 1, 1L), // chunky
        sfTag) ++ geoTags ++ nodataTag
      Planned(ifdAt, first, l, tagsPre, offsetsPos)
    }

    val dataStart = cursor
    // image data areas are sequential; strip offsets per image
    val imageDataStarts = planned.map(_.l.stripCounts.sum)
      .scanLeft(dataStart)(_ + _).init
    val stripOffsetsPerImage = planned.zip(imageDataStarts).map {
      case (pl, at) => pl.l.stripCounts.scanLeft(at)(_ + _).init
    }

    val head = ByteBuffer.allocate(dataStart.toInt).order(ByteOrder.LITTLE_ENDIAN)
    if (big) {
      head.put('I'.toByte).put('I'.toByte).putShort(43)
      head.putShort(8).putShort(0).putLong(planned.head.ifdAt)
    } else {
      head.put('I'.toByte).put('I'.toByte).putShort(42)
      head.putInt(planned.head.ifdAt.toInt)
    }
    // payloads first — the IFD pass below PATCHES the reserved offset
    // arrays, so it must come after the zero-filled reservations land
    payloads.foreach { case (at, bytes) =>
      head.position(at.toInt); head.put(bytes)
    }
    planned.zipWithIndex.foreach { case (pl, idx) =>
      val offs = stripOffsetsPerImage(idx)
      val offsetsTag =
        if (pl.offsetsPos < 0) Tag(273, offType, pl.l.nStrips, offs.head)
        else Tag(273, offType, pl.l.nStrips, pl.offsetsPos)
      val tags = (pl.tagsPre :+ offsetsTag).sortBy(_.id)
      require(tags.length == nTagsOf(pl.first),
        s"planned ${nTagsOf(pl.first)} tags, built ${tags.length} — IFD " +
          "reservation would clobber payloads")
      head.position(pl.ifdAt.toInt)
      if (big) head.putLong(tags.length.toLong) else head.putShort(tags.length.toShort)
      tags.foreach { t =>
        head.putShort(t.id.toShort).putShort(t.ttype.toShort)
        if (big) { head.putLong(t.count); head.putLong(t.inline) }
        else { head.putInt(t.count.toInt); head.putInt(t.inline.toInt) }
      }
      val next = if (idx + 1 < planned.size) planned(idx + 1).ifdAt else 0L
      if (big) head.putLong(next) else head.putInt(next.toInt)
      if (pl.offsetsPos >= 0) {
        head.position(pl.offsetsPos.toInt)
        offs.foreach(o => if (big) head.putLong(o) else head.putInt(o.toInt))
      }
    }
    Files.createDirectories(Paths.get(path).toAbsolutePath.getParent)
    val out = new java.io.BufferedOutputStream(
      new java.io.FileOutputStream(path), 4 << 20)
    try {
      out.write(head.array())
      planned.foreach { pl =>
        val it = pl.l.img.strips()
        var s0 = 0
        while (s0 < pl.l.nStrips) {
          require(it.hasNext, s"strip iterator exhausted at $s0/${pl.l.nStrips}")
          val strip = it.next()
          require(strip.length == pl.l.stripCounts(s0),
            s"strip $s0: ${strip.length} bytes, expected ${pl.l.stripCounts(s0)}")
          out.write(strip)
          s0 += 1
        }
      }
    } finally out.close()
  }
}