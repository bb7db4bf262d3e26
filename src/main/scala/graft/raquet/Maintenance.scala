package graft.raquet

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions._
import graft.quadbin.Quadbin

/** Maintenance / table-management operators (SURVEY.md §2.11).
  *
  *  - inspect (M1): metadata + structural summary as a one-row DataFrame
  *  - validate (M2): executable integrity checks → (check, ok, detail) rows
  *    (reference `raquet/validate.py:342-412`)
  *  - splitZoom (M3): one standalone raquet dataset per zoom level
  *    (`raquet/cli.py:932-1055`)
  *  - partition (M4): spatial partitioning by quadbin ancestor targeting a
  *    byte budget per partition (`raquet/cli.py:1058-1293`, spec
  *    `raquet.md:160-175`)
  *
  * Scale notes: partition/splitZoom are single-shuffle writes
  * (`repartition(part) + sortWithinPartitions(block)`), so every output file
  * is Morton-sorted and prunable; per-partition metadata rows are built on
  * the driver from a bounded `groupBy(part).count()` result (one row per
  * output partition, never per tile).
  */
object Maintenance {

  /** M1: one-row summary of a raquet dataset. */
  def inspect(spark: SparkSession, path: String): DataFrame = {
    val ds = RaquetIO.read(spark, path)
    val m = ds.meta
    val zoomCounts = ds.data
      .groupBy(quadbin_zoom(col("block")).as("z")).count()
      .collect().map(r => s"z${r.getInt(0)}=${r.getLong(1)}").sorted.mkString(",")
    import spark.implicits._
    Seq((m.version, m.width, m.height, m.crs, m.compression.getOrElse("none"),
      m.bandLayout, m.blockWidth, m.blockHeight, m.minZoom, m.maxZoom,
      m.numBlocks, m.bands.map(b => s"${b.name}:${b.bandType}").mkString(","),
      zoomCounts))
      .toDF("version", "width", "height", "crs", "compression", "band_layout",
        "block_width", "block_height", "min_zoom", "max_zoom", "num_blocks",
        "bands", "tiles_per_zoom")
  }

  /** M2: integrity checks → (check, ok, detail). Includes the decode check
    * (every band blob inflates to block_width·block_height pixels) and
    * pyramid completeness (every overview tile's 4-child subtree exists or
    * the tile is a leaf) that the structural driver query can't cover. */
  def validate(spark: SparkSession, path: String): DataFrame = {
    val ds = RaquetIO.read(spark, path)
    val m = ds.meta
    val data = ds.data.cache()
    val results = scala.collection.mutable.ArrayBuffer.empty[(String, Boolean, String)]

    def check(name: String, ok: Boolean, detail: String): Unit =
      results += ((name, ok, detail))

    val n = data.count()
    // num_blocks counts native-zoom tiles only (raster2raquet.py:2157-2161)
    val nNative = data.filter(quadbin_zoom(col("block")) === m.maxZoom).count()
    check("num_blocks", nNative == m.numBlocks,
      s"metadata=${m.numBlocks} native=$nNative (total rows=$n)")
    val nDistinct = data.select(countDistinct(col("block"))).collect()(0).getLong(0)
    check("primary_key_unique", nDistinct == n, s"distinct=$nDistinct rows=$n")
    val zooms = data.select(
      min(quadbin_zoom(col("block"))), max(quadbin_zoom(col("block")))).collect()(0)
    check("zoom_range",
      zooms.getInt(0) >= m.minZoom && zooms.getInt(1) <= m.maxZoom,
      s"data=[${zooms.getInt(0)},${zooms.getInt(1)}] meta=[${m.minZoom},${m.maxZoom}]")
    val allValid = data.select(bool_and(quadbin_is_valid(col("block")))).collect()(0).getBoolean(0)
    check("quadbin_valid", allValid, "header/zoom/trailing-bits")

    // decode check: every blob inflates to the advertised pixel count
    val px = m.blockWidth * m.blockHeight
    m.bands.foreach { b =>
      if (data.columns.contains(b.name)) {
        val ok = data.select(bool_and(
          size(rq_decode(col(b.name), m, b.name)) === px)).collect()(0).getBoolean(0)
        check(s"decode_${b.name}", ok, s"expect $px px, type ${b.bandType}")
      }
    }

    // pyramid completeness: every z>minZoom tile has its parent present
    if (m.minZoom < m.maxZoom) {
      val parents = data.filter(quadbin_zoom(col("block")) > m.minZoom)
        .select(quadbin_ancestor(col("block"),
          quadbin_zoom(col("block")) - 1).as("p")).distinct()
      val missing = parents.join(data.select(col("block").as("p")), Seq("p"), "left_anti").count()
      check("pyramid_parents", missing == 0, s"missing=$missing")
    }
    // spec footer contract (raquet.md:685-695): every file carries the
    // raquet:version KV and declares the Morton sort per row group
    val fp = java.nio.file.Paths.get(path)
    val files =
      if (java.nio.file.Files.isRegularFile(fp)) Seq(fp)
      else {
        val it = java.nio.file.Files.list(fp).iterator()
        val b = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet")) b += f
        }
        b.toSeq
      }
    val stamps = files.map(f => ParquetFooter.inspect(f))
    check("footer_version",
      stamps.nonEmpty && stamps.forall(_._1.contains(ParquetFooter.Version)),
      s"files=${files.size} stamped=${stamps.count(_._1.contains(ParquetFooter.Version))}")
    check("footer_sorting",
      stamps.forall(t => t._3 == t._2),
      s"row_groups=${stamps.map(_._2).sum} sorted=${stamps.map(_._3).sum}")
    data.unpersist()
    import spark.implicits._
    results.toSeq.toDF("check", "ok", "detail")
  }

  /** M3: one standalone raquet directory per zoom (own metadata row with
    * min_zoom = max_zoom = z and per-zoom num_blocks). */
  def splitZoom(spark: SparkSession, path: String, outDir: String): Unit = {
    val ds = RaquetIO.read(spark, path)
    val counts = ds.data.groupBy(quadbin_zoom(col("block")).as("z")).count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    counts.keys.toSeq.sorted.foreach { z =>
      val zMeta = ds.meta.copy(minZoom = z, maxZoom = z, numBlocks = counts(z))
      RaquetIO.write(
        ds.data.filter(quadbin_zoom(col("block")) === z), zMeta, s"$outDir/z=$z")
    }
  }

  /** Auto partition zoom: native − log4(targetBytes / avgTileBytes), clamped
    * (the reference's sizing rule, `cli.py:1178-1195`). */
  def autoPartitionZoom(ds: RaquetIO.RaquetDataset, targetBytes: Long): Int = {
    val bandCols = ds.meta.bands.map(_.name).filter(ds.data.columns.contains)
    val sizeExpr = bandCols.map(c => coalesce(octet_length(col(c)), lit(0)))
      .reduce(_ + _)
    val native = ds.data.filter(quadbin_zoom(col("block")) === ds.meta.maxZoom)
    val Row(nTiles: Long, totBytes: Long) =
      native.select(count(lit(1)), sum(sizeExpr.cast("long"))).collect()(0)
    val avg = math.max(1L, totBytes / math.max(1L, nTiles))
    val dz = math.max(0, (math.log(targetBytes.toDouble / avg) / math.log(4.0)).floor.toInt)
    math.max(0, ds.meta.maxZoom - dz)
  }

  /** M4: spatial partitioning — native-zoom tiles only (overviews dropped,
    * as the reference does), hashed into one directory per quadbin ancestor
    * cell at `partZoom`, each Morton-sorted with its own metadata row. */
  def partition(spark: SparkSession, path: String, outDir: String,
      partZoom: Int = -1, targetBytes: Long = 128L << 20): Unit = {
    val ds = RaquetIO.read(spark, path)
    val pz = if (partZoom >= 0) partZoom else autoPartitionZoom(ds, targetBytes)
    val native = ds.data.filter(quadbin_zoom(col("block")) === ds.meta.maxZoom)
      .withColumn("part", quadbin_ancestor(col("block"), lit(pz)))
    val counts = native.groupBy("part").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    // per-partition metadata rows (driver-built: one per partition)
    val schema = native.schema
    val metaRows = counts.toSeq.map { case (part, cnt) =>
      val json = RaquetMetadata.toJson(
        ds.meta.copy(minZoom = ds.meta.maxZoom, numBlocks = cnt))
      Row.fromSeq(schema.fields.map { f =>
        f.name match {
          case "block" => 0L
          case "metadata" => json
          case "part" => part
          case _ => null
        }
      }.toIndexedSeq)
    }
    val metaDf = spark.createDataFrame(
      spark.sparkContext.parallelize(metaRows, 1), schema)
    // sort leads with the partition column: FileFormatWriter requires rows
    // ordered by partition cols and would otherwise insert its own
    // (non-stable) sort on `part` alone, destroying the Morton order
    native.unionByName(metaDf)
      .repartition(col("part"))
      .sortWithinPartitions("part", "block")
      .write.mode("overwrite").option("compression", RaquetIO.pageCodec(ds.meta))
      .partitionBy("part").parquet(outDir)
    val subdirs = java.nio.file.Files.list(java.nio.file.Paths.get(outDir))
      .iterator()
    while (subdirs.hasNext) {
      val d = subdirs.next()
      if (java.nio.file.Files.isDirectory(d) &&
          d.getFileName.toString.startsWith("part="))
        ParquetFooter.stampAll(d.toString)
    }
  }

  final case class UpsertReport(filesTotal: Int, filesRewritten: Int,
      rowsReplaced: Long, rowsInserted: Long)

  final case class CompactReport(filesBefore: Int, filesAfter: Int, rows: Long)

  /** M10: compaction — after repeated [[upsert]]s fragment a dataset into
    * many small part files, rewrite the data rows into a fresh Morton-
    * sorted range-partitioned layout (`maxRecordsPerFile` rows per file)
    * and drop the old files. Content-preserving by construction: the same
    * rows, the same metadata (refreshed into a single metadata file). The
    * swap is write-new-then-delete-old, so a concurrent reader sees a
    * superset, never a hole. */
  def compact(spark: SparkSession, dir: String,
      maxRecordsPerFile: Long = 0): CompactReport = {
    val (all, meta) = RaquetIO.open(spark, dir)
    val before = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet"))
    val data = all.filter(col("block") =!= 0L)
    val schema = data.schema
    val rows = data.count()
    val tmp = dir + "/.compact-tmp"
    val sortCols = if (schema.fieldNames.contains("time_cf"))
      Seq(col("block"), col("time_cf")) else Seq(col("block"))
    var w = data.orderBy(sortCols: _*).write.mode("overwrite")
      .option("compression", RaquetIO.pageCodec(meta))
    if (maxRecordsPerFile > 0) w = w.option("maxRecordsPerFile", maxRecordsPerFile)
    w.parquet(tmp)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    var k = 0
    val it = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator()
    while (it.hasNext) {
      val p = it.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        val dst = java.nio.file.Paths.get(dir, s"part-compact-$stamp-$k.parquet")
        java.nio.file.Files.move(p, dst)
        ParquetFooter.stamp(dst)
        k += 1
      }
    }
    RaquetIO.deleteRecursivelyPublic(java.nio.file.Paths.get(tmp))
    RaquetIO.writeMetadataFile(spark, schema, meta, dir, s"metadata-$stamp")
    before.foreach(f => java.nio.file.Files.deleteIfExists(f.toPath))
    CompactReport(before.length, k + 1, rows)
  }

  /** M9: tile UPSERT into a directory dataset — replace-by-key (`block`,
    * plus `time_cf` when the dataset is a time series) with inserts for
    * unseen keys, rewriting ONLY the part files whose block range overlaps
    * an updated key. Because [[RaquetIO.write]] range-partitions by block,
    * a localized update touches a localized set of files: cost scales with
    * the update footprint, not the dataset (the 100 TB maintenance shape).
    * Untouched files are left byte-identical; the metadata row is refreshed
    * incrementally (`num_blocks` += inserted native tiles — no full scan).
    *
    * `updates` needs the data columns (`block`, band blobs, `time_cf` if
    * present); any missing columns (e.g. `metadata`, stats columns) are
    * null-filled to the dataset schema, matching what the writer emits for
    * data rows. */
  def upsert(spark: SparkSession, dir: String, updates: DataFrame): UpsertReport = {
    val (all, meta) = RaquetIO.open(spark, dir)
    val schema = all.schema
    val keyCols =
      if (schema.fieldNames.contains("time_cf")) Seq("block", "time_cf")
      else Seq("block")

    // align updates to the dataset schema (null-fill non-key extras)
    val up = updates.select(schema.fields.map { f =>
      if (updates.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toIndexedSeq: _*).cache()

    // per-file block ranges from ONE column-pruned scan (metadata rows are
    // block=0, so the file holding them is only touched if it also holds
    // data; the metadata file itself is rewritten separately below)
    val ranges = all.filter(col("block") =!= 0L)
      .groupBy(input_file_name().as("f"))
      .agg(min("block").as("lo"), max("block").as("hi"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    val metaFiles = all.filter(col("block") === 0L)
      .select(input_file_name().as("f")).distinct().collect().map(_.getString(0))

    // touched files: updated keys joined against the (bounded) range table
    val rangeDf = spark.createDataFrame(
      spark.sparkContext.parallelize(ranges.toIndexedSeq.map(t => Row(t._1, t._2, t._3)), 1),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("f", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("lo", org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("hi", org.apache.spark.sql.types.LongType))))
    val touched = up.select(col("block")).distinct()
      .join(broadcast(rangeDf), col("block") >= col("lo") && col("block") <= col("hi"))
      .select("f").distinct().collect().map(_.getString(0)).toSet

    val dataFilesTouched = ranges.map(_._1).filter(touched.contains)
    val oldTouched =
      if (dataFilesTouched.isEmpty) up.limit(0)
      else spark.read.parquet(dataFilesTouched.toIndexedSeq: _*).filter(col("block") =!= 0L)

    val replaced = oldTouched.join(up.select(keyCols.map(col): _*).distinct(),
      keyCols, "left_semi").count()
    val inserted = up.count() - replaced
    val nativeInserted = up.join(oldTouched.select(keyCols.map(col): _*).distinct(),
      keyCols, "left_anti")
      .filter(quadbin_zoom(col("block")) === meta.maxZoom).count()

    // survivors ∪ updates → new part files (unique names, then swap)
    val merged = oldTouched.join(up.select(keyCols.map(col): _*).distinct(),
        keyCols, "left_anti")
      .unionByName(up)
    val tmp = dir + "/.upsert-tmp"
    merged.orderBy(keyCols.map(col): _*).write.mode("overwrite")
      .option("compression", RaquetIO.pageCodec(meta)).parquet(tmp)
    val stamp = java.util.UUID.randomUUID().toString.take(8)
    val moved = java.nio.file.Files.list(java.nio.file.Paths.get(tmp)).iterator()
    var k = 0
    while (moved.hasNext) {
      val p = moved.next()
      if (p.getFileName.toString.endsWith(".parquet")) {
        val dst = java.nio.file.Paths.get(dir, s"part-upsert-$stamp-$k.parquet")
        java.nio.file.Files.move(p, dst)
        ParquetFooter.stamp(dst)
        k += 1
      }
    }
    RaquetIO.deleteRecursivelyPublic(java.nio.file.Paths.get(tmp))
    def local(uri: String): java.nio.file.Path =
      java.nio.file.Paths.get(java.net.URI.create(
        if (uri.startsWith("file:")) uri else "file://" + uri).getPath)
    dataFilesTouched.foreach(f => java.nio.file.Files.deleteIfExists(local(f)))

    // refresh the metadata row (num_blocks grows by inserted native tiles)
    val meta2 = meta.copy(numBlocks = meta.numBlocks + nativeInserted)
    metaFiles.foreach(f => java.nio.file.Files.deleteIfExists(local(f)))
    RaquetIO.writeMetadataFile(spark, schema, meta2, dir, s"metadata-$stamp")
    up.unpersist()
    UpsertReport(ranges.length + metaFiles.length, dataFilesTouched.length,
      replaced, inserted)
  }

  /** M9 + overview refresh: [[upsert]] native-zoom tiles, then rebuild
    * exactly the pyramid ancestors whose subtree changed — without this, a
    * pyramidal dataset's overviews silently go stale after an upsert and
    * low-zoom reads show pre-update content.
    *
    * Level by level from `maxZoom−1` down to `minZoom`: the touched
    * parents are the distinct ancestors of the updated blocks, each parent
    * is rebuilt from its CURRENT children ([[Pyramid.buildLevel]] — the
    * same partial-mergeable aggregate the full build uses, so siblings the
    * update never touched are read back, not recomputed), and the rebuilt
    * rows go through the same file-local [[upsert]]. Cost per level is
    * O(touched parents), not O(level): an upsert of one tile rebuilds one
    * ancestor per level — the incremental shape the streaming pyramid
    * ([[graft.streaming.StreamingTiles.incrementalPyramid]]) maintains,
    * available to batch maintenance. Time-series datasets (`time_cf`) are
    * rejected loudly: their pyramid key would be (block, time), which
    * [[Pyramid.buildLevel]] does not group by. */
  def upsertWithPyramid(spark: SparkSession, dir: String,
      updates: DataFrame): UpsertReport = {
    val (all, meta) = RaquetIO.open(spark, dir)
    require(!updates.columns.contains("time_cf") && !all.columns.contains("time_cf"),
      s"$dir: pyramid refresh over time-series datasets is unsupported")
    val badZoom = updates
      .filter(quadbin_zoom(col("block")) =!= meta.maxZoom).count()
    require(badZoom == 0,
      s"updates must be native-zoom (z=${meta.maxZoom}) tiles; " +
        s"$badZoom rows are not — overviews are derived, upsert the source")
    // materialize the touched-block list BEFORE the upsert swaps files out
    // from under the (lazy) updates plan
    var frontier = updates.select(col("block")).distinct().localCheckpoint()
    val rep = upsert(spark, dir, updates)
    if (meta.minZoom >= meta.maxZoom) return rep
    var z = meta.maxZoom - 1
    var touchedOverviews = 0L
    while (z >= meta.minZoom) {
      val parents = frontier
        .select(quadbin_ancestor(col("block"), lit(z)).as("pblock"))
        .distinct().localCheckpoint()
      val current = RaquetIO.read(spark, dir).data
        .filter(quadbin_zoom(col("block")) === z + 1)
        .join(broadcast(parents),
          quadbin_ancestor(col("block"), lit(z)) === col("pblock"), "left_semi")
      val rebuilt = Pyramid.buildLevel(current, meta, z)
      upsert(spark, dir, rebuilt)
      touchedOverviews += parents.count()
      frontier = parents.select(col("pblock").as("block"))
      z -= 1
    }
    rep
  }
}
