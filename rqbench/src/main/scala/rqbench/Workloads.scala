package rqbench

import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicBoolean

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.{FixtureGen, RaquetIO}

/** One call into the library: `open` is the eager `RaquetIO`/operator call,
  * `execute` the action on what it returned, `check` compares the result
  * with an expectation computed without Spark. `pixels` is the work the op
  * stands for (pixels decoded, clipped or converted); `tiles` the tiles it
  * needs, the base of the pruning-waste ratio. */
abstract class Op(val kind: String, val pixels: Long, val tiles: Long) {
  type P
  type R
  def open(): P
  def execute(p: P): R
  def check(r: R): Option[String]
}

object Op {
  def apply[P0, R0](kind: String, pixels: Long, tiles: Long)(open0: => P0)(
      execute0: P0 => R0)(check0: R0 => Option[String]): Op =
    new Op(kind, pixels, tiles) {
      type P = P0
      type R = R0
      def open(): P0 = open0
      def execute(p: P0): R0 = execute0(p)
      def check(r: R0): Option[String] = check0(r)
    }

  def expectEq[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, expected $want")
}

/** What every workload shares: the session, the fixture, the seed, and the
  * one expectation the self-test deliberately corrupts. */
final class Ctx(val spark: SparkSession, val fx: Fixture, val seed: Long,
    injectWrong: Boolean) {
  private val injected = new AtomicBoolean(!injectWrong)

  /** `v`, except for the first call when a wrong expectation is injected. */
  def expect(v: Double): Double = if (injected.getAndSet(true)) v else v + 1.0
  def expect(v: Long): Long = if (injected.getAndSet(true)) v else v + 1L
}

/** A closed-loop workload: the client issues round `i` (one op of each kind
  * the workload runs, in order) only after round `i - 1` has completed. */
trait Workload {
  def round(i: Int): Seq[Op]
}

object Workloads {
  val Names: Seq[String] = Seq("interactive", "scan")

  /** Untimed warm-up before measuring. The driver's planning and codegen
    * paths keep getting faster for about half a minute of work; by 20 s
    * most of that is done. */
  val WarmupSeconds = 20.0

  def apply(name: String, ctx: Ctx): Workload = name match {
    case "interactive" => new Interactive(ctx)
    case "scan" => new Scan(ctx)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other'; expected one of ${Names.mkString(", ")}")
  }
}

import Fixture.{Block, Grid, TilePixels, Zoom}

/** BASELINE's interactive shape: a client probes a pixel's value, then
  * asks for the stats of a region. One round makes three such pairs, one
  * per region size (tile counts 1-2, 9-16 and 49-64 by position), so every
  * round carries the same mix and the same pixel volume; the seed picks the
  * pixels and the regions' positions. Region edges lie on pixel boundaries
  * at seeded offsets: interior tiles take the stats-column path, edge tiles
  * are decoded and clipped, and the clipped pixels form a rectangle that a
  * plain loop sums exactly. */
final class Interactive(ctx: Ctx) extends Workload {
  import ctx._
  private val rnd = new SplittableRandom(seed)
  private val o = fx.origin

  def round(i: Int): Seq[Op] =
    Interactive.RegionPixels.flatMap { case (w, h) => Seq(point(), region(w, h)) }

  private def point(): Op = {
    val gx = (o.x0 + rnd.nextInt(Grid)) * Block + rnd.nextInt(Block)
    val gy = (o.y0 + rnd.nextInt(Grid)) * Block + rnd.nextInt(Block)
    val lon = Fixture.lonOf(gx + 0.5)
    val lat = Fixture.latOf(gy + 0.5)
    val want = expect(FixtureGen.slopeValue(gx, gy))
    Op("point", 1, 1)(RaquetIO.readAt(spark, fx.raster, lon, lat)) { ds =>
      ds.data.select(rq_raster_value(col("band_1"), col("block"), lit(lon), lit(lat),
        ds.meta, "band_1")).collect()
    } { rows =>
      if (rows.length != 1 || rows(0).isNullAt(0)) Some(s"point ($gx, $gy): rows ${rows.toSeq}")
      else Op.expectEq(s"point ($gx, $gy)", rows(0).getDouble(0), want)
    }
  }

  private def region(w: Int, h: Int): Op = {
    val gx0 = o.x0 * Block + rnd.nextInt(Grid * Block - w + 1)
    val gy0 = o.y0 * Block + rnd.nextInt(Grid * Block - h + 1)
    val (gx1, gy1) = (gx0 + w, gy0 + h)
    val tiles = ((gx1 - 1) / Block - gx0 / Block + 1) * ((gy1 - 1) / Block - gy0 / Block + 1)
    val (west, east) = (Fixture.lonOf(gx0.toDouble), Fixture.lonOf(gx1.toDouble))
    val (north, south) = (Fixture.latOf(gy0.toDouble), Fixture.latOf(gy1.toDouble))
    val wkt = s"POLYGON(($west $south, $east $south, $east $north, $west $north, $west $south))"
    Op("region", w.toLong * h, tiles)(
        RaquetIO.regionStatsTiles(spark, fx.raster, wkt, "band_1")) {
      _.agg(rq_stats_merge(col("s")).as("m"))
        .select("m.count", "m.min", "m.max", "m.sum").collect()
    } { rows =>
      val want = Fixture.pixelStats(gx0, gx1, gy0, gy1)
      val got = rows.headOption.map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2),
        r.getDouble(3)))
      Op.expectEq(s"region [$gx0,$gx1)x[$gy0,$gy1) count/min/max/sum", got, Some(want))
    }
  }
}

object Interactive {
  /** Region sizes in pixels: 1-2, 9-16 and 49-64 tiles, by position. */
  val RegionPixels: Seq[(Int, Int)] = Seq((200, 150), (700, 600), (1750, 1600))
}

/** ROADMAP's largest cost: Query B (decode every native tile, count the
  * tiles whose mean slope is under a seeded threshold) and the top-20
  * flattest tiles. Expectations come from the per-tile sums the fixture
  * build computed without Spark. */
final class Scan(ctx: Ctx) extends Workload {
  import ctx._
  private val n = Grid * Grid
  private val means = Array.tabulate(n)(fx.tileMean)
  private val threshold = {
    val sorted = means.sorted
    val r = new SplittableRandom(seed)
    sorted(n / 4 + r.nextInt(n / 2))
  }
  private val suitable = means.count(_ < threshold).toLong
  private val top20 = (0 until n)
    .map(k => (fx.cell(k % Grid, k / Grid), means(k)))
    .sortBy { case (c, m) => (m, c) }.take(20)

  def round(i: Int): Seq[Op] = Seq(queryB(), flattest())

  private def nativeStats(ds: RaquetIO.RaquetDataset) =
    ds.data.filter(quadbin_zoom(col("block")) === Zoom)
      .select(col("block"), rq_summary_stats(col("band_1"), ds.meta, "band_1").as("s"))

  private def queryB(): Op = {
    val want = expect(suitable)
    Op("queryB", n * TilePixels, n)(RaquetIO.read(spark, fx.raster)) { ds =>
      nativeStats(ds).select(col("s.mean").as("m"))
        .agg(count(lit(1)), sum(when(col("m") < threshold, 1L).otherwise(0L)))
        .collect()
    } { rows =>
      Op.expectEq("queryB total/suitable", (rows(0).getLong(0), rows(0).getLong(1)),
        (n.toLong, want))
    }
  }

  private def flattest(): Op =
    Op("top20", n * TilePixels, n)(RaquetIO.read(spark, fx.raster)) { ds =>
      nativeStats(ds).select(col("block"), col("s.mean").as("m"))
        .orderBy(col("m").asc, col("block").asc).limit(20).collect()
    } { rows =>
      Op.expectEq("top20", rows.map(r => (r.getLong(0), r.getDouble(1))).toSeq, top20)
    }
}
