package graft.raquet

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.raquet.RaquetIO.RaquetDataset

/** Mosaic: first-valid-wins per-pixel composite of two raquet datasets on
  * the same grid (the `gdal_merge` / mosaicking shape the reference gets by
  * converting pre-merged VRTs; here it is a pure table operation).
  *
  * Plan shape at scale: one full-outer sort-merge join on `block` — both
  * sides are Morton-sorted on disk so the shuffle is the co-partitioning a
  * 100 TB mosaic needs anyway, and every pixel kernel runs post-join, fully
  * parallel. Tiles covered by only ONE input pass their blobs through
  * byte-identical ([[org.apache.spark.sql.graft.RqFns.composite]] short-circuits
  * the null side), so decode cost is paid only where coverage overlaps —
  * for continental mosaics the overlap seam is a vanishing fraction of
  * tiles.
  */
object Mosaic {

  /** Composite `a` over `b` (a wins where valid) per band. Returns
    * `block` + the composited band blobs; callers needing a full raquet
    * table re-derive stats columns with `rq_summary_stats` (exactly what
    * the writer's stats pass does). */
  def mosaic(a: RaquetDataset, b: RaquetDataset,
      bands: Seq[String]): DataFrame = {
    require(a.meta.blockWidth == b.meta.blockWidth &&
      a.meta.blockHeight == b.meta.blockHeight,
      s"mosaic: grid mismatch ${a.meta.blockWidth}x${a.meta.blockHeight} vs " +
        s"${b.meta.blockWidth}x${b.meta.blockHeight}")
    bands.foreach { n =>
      require(a.meta.band(n).bandType == b.meta.band(n).bandType,
        s"mosaic: dtype mismatch on $n")
    }
    val left = a.data.select(col("block") +: bands.map(n => col(n).as(s"a_$n")): _*)
    val right = b.data.select(col("block") +: bands.map(n => col(n).as(s"b_$n")): _*)
    val joined = left.join(right, Seq("block"), "full_outer")
    joined.select(col("block") +: bands.map(n =>
      rq_composite(col(s"a_$n"), col(s"b_$n"), a.meta, n).as(n)): _*)
  }

  /** End-to-end mosaic: composite `pathA` over `pathB` and write a
    * COMPLETE raquet dataset — composited blobs, recomputed per-tile
    * tile-statistics columns (the spec's `band_*_count/min/max/sum/mean/
    * stddev`), and the metadata row — to `out`. Metadata comes from A
    * (grids must match; [[mosaic]] enforces it). Readable by every query
    * path like any convert output. */
  def mosaicToFile(spark: org.apache.spark.sql.SparkSession, pathA: String,
      pathB: String, out: String, maxRecordsPerFile: Long = 0): RaquetMetadata = {
    val a = RaquetIO.read(spark, pathA)
    val b = RaquetIO.read(spark, pathB)
    val bands = a.meta.bands.map(_.name)
    val merged = mosaic(a, b, bands)
    val withStats = bands.foldLeft(merged) { (df, n) =>
      df.withColumn(s"_s_$n", rq_summary_stats(col(n), a.meta, n))
        .withColumn(s"${n}_count", coalesce(col(s"_s_$n").getField("count"), lit(0L)))
        .withColumn(s"${n}_min", col(s"_s_$n").getField("min"))
        .withColumn(s"${n}_max", col(s"_s_$n").getField("max"))
        .withColumn(s"${n}_sum", col(s"_s_$n").getField("sum"))
        .withColumn(s"${n}_mean", col(s"_s_$n").getField("mean"))
        .withColumn(s"${n}_stddev", col(s"_s_$n").getField("stddev"))
        .drop(s"_s_$n")
    }.withColumn("metadata", lit(null).cast("string"))
    val cols = Seq("block", "metadata") ++ bands ++
      bands.flatMap(n => Seq(s"${n}_count", s"${n}_min", s"${n}_max",
        s"${n}_sum", s"${n}_mean", s"${n}_stddev"))
    RaquetIO.write(withStats.select(cols.map(col): _*), a.meta, out,
      maxRecordsPerFile = maxRecordsPerFile)
    a.meta
  }
}
