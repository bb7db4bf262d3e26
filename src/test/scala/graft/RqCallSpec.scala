package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Alias
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.RqBridge

import graft.functions.GraftFunctions._
import graft.geo.Wkt
import graft.quadbin.{Polyfill, Quadbin}
import graft.raquet.{BandKernel, BandPairKernel, FixtureGen, Pansharpen, RaquetIO}

/** Every raster function runs through the one generic expression
  * (`RqCall`). Each is called through the DSL over the gradient16 fixture,
  * once with generated code only and once interpreted, and every result is
  * compared with a direct call of the same `RqBridge` / `BandKernel` method
  * on the collected input row — the kernels are the oracle. Inputs carry
  * NULL bands, NULL halos and one-sided composites so each null contract
  * is exercised. */
class RqCallSpec extends SparkSpec {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"
  private lazy val meta = RaquetIO.readMetadata(spark, fixture)
  private lazy val k1 = BandKernel(meta, "band_1")
  private lazy val kp = BandPairKernel(k1, BandKernel(meta, "band_2"))

  // a box over parts of z6 tiles (33..34, 25..26), and a triangle
  private val wkt = {
    val w = Quadbin.tileWest(33, 6) + 0.1; val e = Quadbin.tileEast(34, 6) - 0.1
    val s = Quadbin.tileSouth(26, 6) + 0.1; val n = Quadbin.tileNorth(25, 6) - 0.1
    s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))"
  }
  private val wkt2 = {
    val w = Quadbin.tileWest(35, 6); val e = Quadbin.tileEast(37, 6)
    val s = Quadbin.tileSouth(30, 6); val n = Quadbin.tileNorth(27, 6)
    s"POLYGON(($w $s, $e $s, $w $n, $w $s))"
  }

  private def halo(dx: Int, dy: Int, n: Int): Column =
    struct(lit(dx).as("dx"), lit(dy).as("dy"),
      array((0 until n).map(i => lit(40.0 + 3 * i)): _*).as("vals"))

  /** One row per tile: the inputs every function reads, with NULLs in the
    * band (every 7th block), the halos (every 3rd) and the composite's
    * second side (every 5th). */
  private lazy val inputs: DataFrame = {
    val bb = quadbin_bounds(col("block"))
    RaquetIO.read(spark, fixture).data.select(
      col("block"),
      when(col("block") % 7 === 0, lit(null).cast("binary")).otherwise(col("band_1")).as("b"),
      col("band_1").as("b1"),
      col("band_2").as("b2"),
      when(col("block") % 5 === 0, lit(null).cast("binary")).otherwise(col("band_1")).as("c"),
      when(col("block") % 3 === 0, lit(null))
        .otherwise(array(halo(-1, 0, 16), halo(0, -1, 16), halo(1, 1, 1))).as("h"),
      ((bb.getItem(0) + bb.getItem(2)) / 2).as("lon"),
      ((bb.getItem(1) + bb.getItem(3)) / 2).as("lat"),
      quadbin_zoom(col("block")).as("z"),
      (col("block") % 4).cast("int").as("q"),
      when(col("block") % 2 === 0, lit(wkt)).otherwise(lit(wkt2)).as("w"),
      array(
        struct(lit(1L).as("pid"), lit(530L).as("px"), lit(410L).as("py"), lit(10.0).as("v")),
        struct(lit(2L).as("pid"), lit(545L).as("px"), lit(420L).as("py"), lit(20.0).as("v")),
        struct(lit(3L).as("pid"), lit(600L).as("px"), lit(470L).as("py"), lit(5.0).as("v")))
        .as("pts"),
      array(struct(lit(7.0).as("value"), lit(wkt).as("wkt")),
        struct(lit(9.0).as("value"), lit(wkt2).as("wkt"))).as("zones"),
      array(struct(lit(1L).as("zid"), lit(wkt).as("wkt")),
        struct(lit(2L).as("zid"), lit(wkt2).as("wkt"))).as("zids"),
      array((0 until 120 by 3).map(l => struct(lit(l.toLong).as("l"),
        (if (l == 6) lit(null).cast("double") else lit(l * 2.0)).as("o"))): _*).as("kv"),
      array((0 until 120 by 2).map(l => struct(lit(l.toLong).as("l"), lit(l + 0.5).as("o"),
        lit(l * 3.0).as("o2"))): _*).as("kv3"),
      when(col("block") % 7 === 0, lit(null))
        .otherwise(array(struct(lit(0.0).as("t"), col("band_1").as("b")),
          struct(lit(1.0).as("t"), col("band_1").as("b")))).as("stack"),
      array(struct(lit(0.0).as("x"), col("band_1").as("b")),
        struct(lit(2.0).as("x"), col("band_1").as("b"))).as("series"))
  }

  /** One function under test: its DSL column, the input columns it reads
    * (`optional` ones may be NULL) and the direct kernel call. */
  private case class Case(name: String, column: Column, args: Seq[String],
      optional: Set[String] = Set.empty)(val direct: Row => Any)

  private def in(r: Row, c: String): Any =
    CatalystTypeConverters.convertToCatalyst(r.getAs[Any](c))
  private def bin(r: Row, c: String) = r.getAs[Array[Byte]](c)
  private def arr(r: Row, c: String) = in(r, c).asInstanceOf[ArrayData]
  private def long(r: Row, c: String) = r.getAs[Long](c)
  private def dbl(r: Row, c: String) = r.getAs[Double](c)

  private val reBreaks = Array(64.0, 128.0, 192.0)
  private val reClasses = Array(1.0, 2.0, 3.0, 4.0)
  private val ramp = Seq(0.0, 128.0, 255.0)
  private val colors = Seq((0, 0, 0), (128, 64, 32), (255, 255, 255))

  private lazy val cases: Seq[Case] = Seq(
    Case("decode", rq_decode(col("b"), meta, "band_1"), Seq("b"))(
      r => RqBridge.decodeOf(k1, bin(r, "b"))),
    Case("reclassify", rq_reclassify(col("b"), meta, "band_1", reBreaks, reClasses),
      Seq("b"))(r => k1.reclassify(bin(r, "b"), reBreaks, reClasses)),
    Case("translate", rq_translate(col("b"), meta, "band_1", "float32", Double.NaN, 0.5, 3.0),
      Seq("b"))(r => k1.translate(bin(r, "b"), "float32", Double.NaN, 0.5, 3.0)),
    Case("brovey", rq_brovey(col("b"), col("b1"), col("b1"), meta, "band_1", "band_1",
      "band_1"), Seq("b", "b1"))(
      r => Pansharpen.brovey(k1, k1, k1, bin(r, "b"), bin(r, "b1"), bin(r, "b1"))),
    Case("contour", rq_contour(col("b"), meta, "band_1", 100.0), Seq("b"))(
      r => RqBridge.contourOf(k1, bin(r, "b"), 100.0)),
    Case("focal_contour", rq_focal_contour(col("b"), col("h"), meta, "band_1", 100.0),
      Seq("b", "h"), Set("h"))(r => RqBridge.contourHaloOf(k1, bin(r, "b"), arr(r, "h"), 100.0)),
    Case("rasterize", rq_rasterize(col("block"), col("zones"), k1), Seq("block", "zones"))(
      r => RqBridge.rasterizeOf(k1, long(r, "block"), arr(r, "zones"))),
    Case("region_label", rq_region_label(col("block"), col("b"), meta, "band_1"),
      Seq("block", "b"))(r => RqBridge.regionLabelOf(k1, long(r, "block"), bin(r, "b"))),
    Case("region_sizes", rq_region_sizes(col("block"), col("b"), meta, "band_1"),
      Seq("block", "b"))(r => RqBridge.regionSizesOf(k1, long(r, "block"), bin(r, "b"))),
    Case("region_neighbors", rq_region_neighbors(col("block"), col("b"), meta, "band_1"),
      Seq("block", "b"))(r => RqBridge.regionNeighborsOf(k1, long(r, "block"), bin(r, "b"))),
    Case("region_strips", rq_region_strips(col("block"), col("b"), meta, "band_1"),
      Seq("block", "b"))(r => RqBridge.regionStripsOf(k1, long(r, "block"), bin(r, "b"))),
    Case("region_analysis", rq_region_analysis(col("block"), col("b"), meta, "band_1",
      withNeighbors = true, withLabel = true), Seq("block", "b"))(
      r => RqBridge.regionAnalysisOf(k1, long(r, "block"), bin(r, "b"), true, true)),
    Case("label_remap", rq_label_remap(col("b"), col("kv"), k1, asLong = true),
      Seq("b", "kv"))(r => RqBridge.labelRemapOf(k1, bin(r, "b"), arr(r, "kv"), true)),
    Case("label_remap2", rq_label_remap2(col("b"), col("kv3"), k1), Seq("b", "kv3"))(
      r => RqBridge.labelRemap2Of(k1, bin(r, "b"), arr(r, "kv3"))),
    Case("region_segments", rq_region_segments(col("block"), col("b"), col("h"), meta,
      "band_1"), Seq("block", "b", "h"), Set("h"))(
      r => RqBridge.regionSegmentsOf(k1, long(r, "block"), bin(r, "b"), arr(r, "h"))),
    Case("idw_grid", rq_idw_grid(col("block"), col("pts"), k1, 40L), Seq("block", "pts"))(
      r => RqBridge.idwGridOf(k1, long(r, "block"), arr(r, "pts"), 40L)),
    Case("mask_range", rq_mask_range(col("b"), meta, "band_1", 10.0, 50.0), Seq("b"))(
      r => k1.maskRange(bin(r, "b"), 10.0, 50.0)),
    Case("temporal_fill", rq_temporal_fill(col("stack"), k1), Seq("stack"))(
      r => RqBridge.temporalFillOf(k1, arr(r, "stack"))),
    Case("theilsen_mk", rq_theilsen_mk(col("stack"), k1), Seq("stack"))(
      r => RqBridge.theilSenMkOf(k1, arr(r, "stack"))),
    Case("grid_stat", rq_grid_stat(col("block"), col("pts"), k1, 40L, 1),
      Seq("block", "pts"))(r => RqBridge.gridStatOf(k1, long(r, "block"), arr(r, "pts"), 40L, 1)),
    Case("histogram", rq_histogram(col("b"), meta, "band_1", 0.0, 256.0, 8), Seq("b"))(
      r => ArrayData.toArrayData(k1.histogram(bin(r, "b"), 0.0, 256.0, 8))),
    Case("child_tile", rq_child_tile(col("b"), col("q"), meta, "band_1"), Seq("b", "q"))(
      r => k1.childTile(bin(r, "b"), r.getAs[Int]("q"))),
    Case("composite", rq_composite(col("b"), col("c"), meta, "band_1"), Seq("b", "c"),
      Set("b", "c")) { r =>
      if (bin(r, "b") == null) bin(r, "c")
      else if (bin(r, "c") == null) bin(r, "b")
      else k1.composite(bin(r, "b"), bin(r, "c"))
    },
    Case("summary_stats", rq_summary_stats(col("b"), meta, "band_1"), Seq("b"))(
      r => RqBridge.statsOf(k1, bin(r, "b"))),
    Case("raster_value", rq_raster_value(col("b"), col("block"), col("lon"), col("lat"), meta,
      "band_1"), Seq("b", "block", "lon", "lat")) { r =>
      val v = k1.valueAt(bin(r, "b"), long(r, "block"), dbl(r, "lon"), dbl(r, "lat"))
      if (v.isNaN) null else v
    },
    Case("clip_stats", rq_clip_stats(col("b"), col("block"), meta, "band_1", wkt),
      Seq("b", "block"))(r => RqBridge.clipStatsOf(k1, bin(r, "b"), long(r, "block"),
      Wkt.parse(wkt))),
    Case("clip", rq_clip(col("b"), col("block"), meta, "band_1", wkt), Seq("b", "block"))(
      r => RqBridge.clipOf(k1, bin(r, "b"), long(r, "block"), Wkt.parse(wkt))),
    Case("polyfill", st_polyfill(wkt, col("z")), Seq("z"))(
      r => ArrayData.toArrayData(Polyfill.cells(Wkt.parse(wkt), r.getAs[Int]("z"), "intersects"))),
    Case("polyfill_col", st_polyfill_col(col("w"), col("z")), Seq("w", "z"))(
      r => RqBridge.polyfillDyn(r.getAs[String]("w"), r.getAs[Int]("z"), "intersects")),
    Case("contains", st_contains(col("w"), col("lon"), col("lat")), Seq("w", "lon", "lat"))(
      r => RqBridge.geomOf(r.getAs[String]("w")).containsPoint(dbl(r, "lon"), dbl(r, "lat"))),
    Case("clip_stats_col", rq_clip_stats_col(col("b"), col("block"), col("w"), meta, "band_1"),
      Seq("b", "block", "w"))(
      r => RqBridge.clipStatsDyn(k1, bin(r, "b"), long(r, "block"), r.getAs[String]("w"))),
    Case("clip_histogram_col", rq_clip_histogram_col(col("b"), col("block"), col("w"), meta,
      "band_1", 0.0, 256.0, 8), Seq("b", "block", "w"))(
      r => RqBridge.clipHistDyn(k1, bin(r, "b"), long(r, "block"), r.getAs[String]("w"),
        0.0, 256.0, 8)),
    Case("zonal_histograms", rq_zonal_histograms(col("b"), col("block"), col("zids"), meta,
      "band_1", 0.0, 256.0, 8), Seq("b", "block", "zids"))(
      r => RqBridge.zonalHistsOf(k1, bin(r, "b"), long(r, "block"), arr(r, "zids"),
        0.0, 256.0, 8)),
    Case("temporal_fit", rq_temporal_fit(col("series"), meta, "band_1"), Seq("series"))(
      r => RqBridge.temporalFitOf(k1, arr(r, "series"))),
    Case("focal_mean", rq_focal_mean(col("b"), col("h"), meta, "band_1"), Seq("b", "h"),
      Set("h"))(r => RqBridge.focalOf(k1, bin(r, "b"), arr(r, "h"))),
    Case("fill_nodata", rq_fill_nodata(col("b"), col("h"), meta, "band_1"), Seq("b", "h"),
      Set("h"))(r => RqBridge.fillOf(k1, bin(r, "b"), arr(r, "h"))),
    Case("chamfer_seed", rq_chamfer_seed(col("b"), meta, "band_1", 100.0), Seq("b"))(
      r => RqBridge.chamferSeedOf(k1, bin(r, "b"), 100.0)),
    Case("chamfer_relax", rq_chamfer_relax(col("b"), col("h"), meta, "band_1"), Seq("b", "h"),
      Set("h"))(r => RqBridge.chamferRelaxOf(k1, bin(r, "b"), arr(r, "h"))),
    Case("focal_slope", rq_focal_slope(col("b"), col("h"), meta, "band_1", 30.0),
      Seq("b", "h"), Set("h"))(r => RqBridge.slopeOf(k1, bin(r, "b"), arr(r, "h"), 30.0, false)),
    Case("focal_hillshade_md", rq_focal_hillshade_md(col("b"), col("h"), meta, "band_1", 30.0,
      45.0), Seq("b", "h"), Set("h"))(
      r => RqBridge.hillshadeMdOf(k1, bin(r, "b"), arr(r, "h"), 30.0, 45.0)),
    Case("focal_terrain", rq_focal_terrain(col("b"), col("h"), meta, "band_1", 30.0, 315.0,
      45.0), Seq("b", "h"), Set("h"))(
      r => RqBridge.terrainOf(k1, bin(r, "b"), arr(r, "h"), 30.0, 315.0, 45.0)),
    Case("focal_tpi", rq_focal_tpi(col("b"), col("h"), meta, "band_1"), Seq("b", "h"),
      Set("h"))(r => RqBridge.tpiOf(k1, bin(r, "b"), arr(r, "h"))),
    Case("color_relief", rq_color_relief(col("b"), meta, "band_1", ramp, colors), Seq("b"))(
      r => RqBridge.colorReliefOf(k1, bin(r, "b"), ramp.toArray,
        colors.map(c => Array(c._1.toDouble, c._2.toDouble, c._3.toDouble)).toArray)),
    Case("normalized_difference", rq_normalized_difference(col("b"), col("b2"), meta,
      "band_1", "band_2"), Seq("b", "b2"))(r => RqBridge.ndiffOf(kp, bin(r, "b"), bin(r, "b2"))),
    Case("normalized_difference_stats", rq_normalized_difference_stats(col("b"), col("b2"),
      meta, "band_1", "band_2"), Seq("b", "b2"))(
      r => RqBridge.ndStatsOf(kp, bin(r, "b"), bin(r, "b2"))),
    Case("band_math", rq_band_math(col("b"), col("b2"), meta, "band_1", "band_2", "sub"),
      Seq("b", "b2"))(r => ArrayData.toArrayData(kp.bandMath(bin(r, "b"), bin(r, "b2"), "sub"))),
    Case("band_math_stats", rq_band_math_stats(col("b"), col("b2"), meta, "band_1", "band_2",
      "sub"), Seq("b", "b2"))(
      r => RqBridge.statsRow(kp.bandMathStats(bin(r, "b"), bin(r, "b2"), "sub"))))

  /** Bit-exact comparable form: doubles by their bits (NaN included), byte
    * arrays, sequences and rows by their elements. */
  private def norm(v: Any): Any = v match {
    case null => null
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }

  private def withConfs[T](confs: (String, String)*)(body: => T): T = {
    val before = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  private val modes = Seq(
    "generated code" -> Seq("spark.sql.codegen.factoryMode" -> "CODEGEN_ONLY",
      "spark.sql.codegen.wholeStage" -> "true", "spark.sql.codegen.fallback" -> "false"),
    "interpreted" -> Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
      "spark.sql.codegen.wholeStage" -> "false"))

  test("the table holds the 47 raster functions and every one is exercised here") {
    assert(cases.map(_.name).distinct.size == 47)
  }

  for ((mode, confs) <- modes) {
    test(s"every raster function equals its kernel called directly ($mode)") {
      withConfs(confs: _*) {
        val inCols = inputs.columns.toSeq
        for (group <- cases.grouped(8)) {
          val df = inputs.select(inCols.map(col) ++
            group.map(c => c.column.as(c.name)): _*)
          val rows = df.collect()
          assert(rows.length == 85)
          for (c <- group) {
            val dt = df.schema(c.name).dataType
            var nonNull = 0
            rows.foreach { r =>
              val required = c.args.filterNot(c.optional)
              val expected =
                if (required.exists(a => r.isNullAt(r.fieldIndex(a)))) null
                else CatalystTypeConverters.convertToScala(c.direct(r), dt)
              val got = r.get(r.fieldIndex(c.name))
              assert(norm(got) == norm(expected),
                s"${c.name} at block ${r.getAs[Long]("block")}: $got vs $expected")
              if (got != null) nonNull += 1
            }
            assert(nonNull > 0, s"${c.name}: no non-null result to compare")
          }
        }
      }
    }

    test(s"null contracts: null band, null halos, one-sided composite ($mode)") {
      withConfs(confs: _*) {
        val rows = inputs.select(col("block"), col("b"), col("c"), col("h"),
          rq_focal_mean(col("b"), col("h"), meta, "band_1").as("fm"),
          rq_summary_stats(col("b"), meta, "band_1").as("st"),
          rq_composite(col("b"), col("c"), meta, "band_1").as("cp")).collect()
        val nullBand = rows.filter(_.isNullAt(1))
        assert(nullBand.nonEmpty && nullBand.forall(r => r.isNullAt(4) && r.isNullAt(5)))
        // a NULL halo list is an empty halo, not a NULL result
        val nullHalo = rows.filter(r => !r.isNullAt(1) && r.isNullAt(3))
        assert(nullHalo.nonEmpty && nullHalo.forall(r => !r.isNullAt(4)))
        // one side NULL: the other side's blob passes through byte-identical
        val oneSided = rows.filter(r => r.isNullAt(1) != r.isNullAt(2))
        assert(oneSided.exists(_.isNullAt(1)) && oneSided.exists(_.isNullAt(2)))
        oneSided.foreach { r =>
          val side = if (r.isNullAt(1)) r.getAs[Array[Byte]]("c") else r.getAs[Array[Byte]]("b")
          assert(java.util.Arrays.equals(r.getAs[Array[Byte]]("cp"), side))
        }
        assert(rows.filter(r => r.isNullAt(1) && r.isNullAt(2)).forall(_.isNullAt(6)))
      }
    }

    test(s"rq_raster_value is NULL at a nodata pixel ($mode)") {
      withConfs(confs: _*) {
        // band_1 is nodata where (gx + gy) % 31 == 0: pixel (560, 432) of
        // z6 tile (35, 27); its east neighbour (561, 432) is valid
        def at(gx: Double, gy: Double): (Double, Double) = {
          val n = 64.0 * 16
          val lon = gx / n * 360.0 - 180.0
          val lat = math.toDegrees(math.atan(math.sinh(math.Pi * (1 - 2 * gy / n))))
          (lon, lat)
        }
        val block = Quadbin.tileToCell(35, 27, 6)
        val (lon0, lat0) = at(560.5, 432.5)
        val (lon1, lat1) = at(561.5, 432.5)
        val r = RaquetIO.read(spark, fixture).data.filter(col("block") === block)
          .select(
            rq_raster_value(col("band_1"), col("block"), lit(lon0), lit(lat0), meta, "band_1"),
            rq_raster_value(col("band_1"), col("block"), lit(lon1), lit(lat1), meta, "band_1"))
          .collect().head
        assert(r.isNullAt(0))
        assert(r.getDouble(1) == FixtureGen.v1(561, 432))
      }
    }
  }

  test("calls that differ only in a constant are distinct expressions and columns") {
    val slope1 = rq_focal_slope(col("b"), col("h"), meta, "band_1", 1.0)
    val slope2 = rq_focal_slope(col("b"), col("h"), meta, "band_1", 2.0)
    val again = rq_focal_slope(col("b"), col("h"), meta, "band_1", 1.0)
    val Seq(e1, e2, e1b) = inputs.select(slope1, slope2, again).queryExecution.analyzed
      .expressions.map(_.asInstanceOf[Alias].child)
    assert(!e1.semanticEquals(e2))
    assert(e1.semanticEquals(e1b))
    val rows = inputs.filter(col("b").isNotNull)
      .select(slope1.as("s1"), slope2.as("s2")).collect()
    assert(rows.forall(r => !java.util.Arrays.equals(r.getAs[Array[Byte]](0),
      r.getAs[Array[Byte]](1))))
  }

  test("auto-generated column names are the function over its arguments") {
    val df = RaquetIO.read(spark, fixture).data
    assert(df.select(rq_summary_stats(col("band_1"), meta, "band_1")).columns.toSeq ==
      Seq("rq_summary_stats(band_1)"))
    assert(df.select(rq_clip_stats(col("band_1"), col("block"), meta, "band_1", wkt))
      .columns.toSeq == Seq("rq_clip_stats(band_1, block)"))
  }
}
