package graft

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{GraftExtensions, GraftFunctions}
import graft.quadbin.Quadbin

/** `GraftFunctions.register(spark)` and `spark.sql.extensions =
  * graft.functions.GraftExtensions` install the same function table: every
  * name resolves through both, every raster function answers the same
  * through both, and a call with the wrong number of arguments names the
  * function and the count it takes. */
class SqlRegistrySpec extends AnyFunSuite with BeforeAndAfterAll {

  private val fixture = "src/test/resources/raquet/gradient16.parquet"

  /** A session with neither the extensions nor register(), built on the
    * shared test context. */
  private def bareSession(): SparkSession = {
    val shared = SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().getOrCreate()
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  private lazy val registered: SparkSession = {
    val s = bareSession()
    assert(!s.catalog.functionExists("rq_decode"), "bare session already has graft functions")
    GraftFunctions.register(s)
    s
  }
  private lazy val extended: SparkSession = {
    SparkSpec.session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try SparkSession.builder().withExtensions(new GraftExtensions()).getOrCreate()
    finally {
      SparkSession.setDefaultSession(SparkSpec.session)
      SparkSession.setActiveSession(SparkSpec.session)
    }
  }

  private lazy val names = GraftFunctions.sqlFunctions.map(_._1)

  test("the table names 63 distinct functions") {
    assert(names.size == 63 && names.distinct.size == 63)
  }

  test("every name resolves through register() and through GraftExtensions") {
    for (s <- Seq(registered, extended); n <- names)
      assert(s.catalog.functionExists(n), s"$n does not resolve")
  }

  /** SQL string literal (single quotes, backslash escapes). */
  private def q(s: String): String = "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"

  private lazy val rasterQueries: Seq[(String, String)] = {
    val m = q(registered.read.parquet(fixture).filter("block = 0")
      .select("metadata").head().getString(0))
    val w = Quadbin.tileWest(33, 6) + 0.1; val e = Quadbin.tileEast(34, 6) - 0.1
    val s = Quadbin.tileSouth(26, 6) + 0.1; val n = Quadbin.tileNorth(25, 6) - 0.1
    val wkt = q(s"POLYGON(($w $s, $e $s, $e $n, $w $n, $w $s))")
    val lonlat = "(quadbin_bounds(block)[0] + quadbin_bounds(block)[2]) / 2, " +
      "(quadbin_bounds(block)[1] + quadbin_bounds(block)[3]) / 2"
    val zones = s"array(named_struct('value', 7.0D, 'wkt', $wkt))"
    val tiles = "FROM g WHERE block <> 0"
    Seq(
      "rq_decode" -> s"SELECT block, rq_decode(band_1, $m, 'band_1') $tiles",
      "rq_summary_stats" -> s"SELECT block, rq_summary_stats(band_1, $m, 'band_1') $tiles",
      "rq_raster_value" ->
        s"SELECT block, rq_raster_value(band_1, block, $lonlat, $m, 'band_1') $tiles",
      "rq_clip_stats" -> s"SELECT block, rq_clip_stats(band_1, block, $m, 'band_1', $wkt) $tiles",
      "rq_clip" -> s"SELECT block, rq_clip(band_1, block, $m, 'band_1', $wkt) $tiles",
      "rq_clip_histogram" -> (s"SELECT block, rq_clip_histogram(band_1, block, $wkt, $m, " +
        s"'band_1', 0, 256, 8) $tiles"),
      "rq_normalized_difference" ->
        s"SELECT block, rq_normalized_difference(band_1, band_2, $m, 'band_1', 'band_2') $tiles",
      "rq_normalized_difference_stats" -> (s"SELECT block, rq_normalized_difference_stats(" +
        s"band_1, band_2, $m, 'band_1', 'band_2') $tiles"),
      "rq_band_math" ->
        s"SELECT block, rq_band_math(band_1, band_2, $m, 'band_1', 'band_2', 'add') $tiles",
      "rq_band_math_stats" -> (s"SELECT block, rq_band_math_stats(band_1, band_2, $m, " +
        s"'band_1', 'band_2', 'max') $tiles"),
      "rq_reclassify" ->
        s"SELECT block, rq_reclassify(band_1, $m, 'band_1', '64,128', '1,2,3') $tiles",
      "rq_composite" -> (s"SELECT block, rq_composite(IF(block % 3 = 0, NULL, band_1), " +
        s"IF(block % 2 = 0, NULL, band_1), $m, 'band_1') $tiles"),
      "rq_contour" -> s"SELECT block, rq_contour(band_1, $m, 'band_1', 100) $tiles",
      "rq_histogram" -> s"SELECT block, rq_histogram(band_1, $m, 'band_1', 0, 256, 8) $tiles",
      "rq_rasterize" -> s"SELECT block, rq_rasterize(block, $zones, $m, 'band_1') $tiles",
      "rq_temporal_composite" -> (s"SELECT quadbin_zoom(block) AS z, " +
        s"rq_temporal_composite(band_1, $m, 'band_1', 'max') $tiles GROUP BY 1"),
      "rq_stats_merge" -> (s"SELECT quadbin_zoom(block) AS z, " +
        s"rq_stats_merge(rq_summary_stats(band_1, $m, 'band_1')) $tiles GROUP BY 1"),
      "st_quadbin_intersects" -> s"SELECT block, st_quadbin_intersects(block, $wkt) $tiles",
      "st_polyfill" ->
        s"SELECT block, st_polyfill($wkt, quadbin_zoom(block), 'intersects') $tiles",
      "st_contains" -> s"SELECT block, st_contains($wkt, $lonlat) $tiles")
  }

  private def norm(v: Any): Any = v match {
    case d: Double => java.lang.Double.doubleToLongBits(d)
    case b: Array[Byte] => b.toSeq
    case r: Row => r.toSeq.map(norm)
    case s: scala.collection.Seq[_] => s.map(norm)
    case other => other
  }
  private def run(s: SparkSession, sql: String): Seq[Any] = {
    s.read.parquet(fixture).createOrReplaceTempView("g")
    s.sql(sql).collect().toSeq.map(norm).sortBy(_.toString)
  }

  test("every raster function returns the same value through both registrations") {
    val fns = rasterQueries.map(_._1)
    assert(fns.distinct.size == fns.size && fns.forall(names.contains))
    for ((fn, sql) <- rasterQueries) {
      val a = run(registered, sql)
      assert(a.size == 85 || sql.contains("GROUP BY"), s"$fn: ${a.size} rows")
      assert(a == run(extended, sql), s"$fn differs between register() and GraftExtensions")
    }
  }

  test("a wrong argument count names the function and the count it takes") {
    for (s <- Seq(registered, extended)) {
      val e1 = intercept[Exception](s.sql("SELECT quadbin_zoom(1, 2)").collect())
      assert(!e1.isInstanceOf[MatchError])
      assert(e1.getMessage.contains("quadbin_zoom takes 1 arguments, got 2"), e1.getMessage)
      val e2 = intercept[Exception](s.sql("SELECT rq_decode(X'00')").collect())
      assert(e2.getMessage.contains("rq_decode takes 3 arguments, got 1"), e2.getMessage)
    }
  }
}
