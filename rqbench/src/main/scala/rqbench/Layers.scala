package rqbench

import scala.collection.immutable.ListMap

/** Per-layer metrics of a traced run, from the tracer's op, job and stage
  * records of the workload's own ops (the probes are excluded). "Per op"
  * divides by the number of ops traced. */
object Layers {

  /** Unit of every metric the benchmark prints, end-to-end and per-layer. */
  val Units: ListMap[String, String] = ListMap(
    "setup_s" -> "s",
    "peak_rss_mb" -> "MB",
    "round_p50_ms" -> "ms",
    "mpix_per_s" -> "Mpix/s",
    "stored_bytes_per_raw_byte" -> "ratio",
    "driver.jobs_per_op" -> "count",
    "driver.stages_per_op" -> "count",
    "driver.tasks_per_op" -> "count",
    "driver.idle_ms_per_op" -> "ms",
    "RaquetIO.open_ms" -> "ms",
    "RaquetIO.rows_read_per_tile_used" -> "ratio",
    "RaquetIO.bytes_read_per_op" -> "B",
    "RaquetIO.scan_tasks_per_op" -> "count",
    "executor.cpu_s" -> "s/op",
    "executor.run_s" -> "s/op",
    "executor.gc_s" -> "s/op",
    "executor.deserialize_s" -> "s/op",
    "executor.slot_utilization" -> "ratio",
    "executor.cpu_per_run" -> "ratio",
    "exchange.shuffle_write_mb" -> "MB/op",
    "exchange.shuffle_read_mb" -> "MB/op",
    "exchange.spill_mb" -> "MB/op",
    "PixelCodec.inflate_tiles_per_s" -> "1/s",
    "PixelCodec.decode_tiles_per_s" -> "1/s",
    "PixelCodec.fused_stats_tiles_per_s" -> "1/s",
    "PixelCodec.encode_tiles_per_s" -> "1/s",
    "PixelCodec.inflate_mb_per_s" -> "MB/s",
    "BandKernel.value_at_per_s" -> "1/s",
    "BandKernel.clip_stats_tiles_per_s" -> "1/s",
    "BandKernel.region_analysis_tiles_per_s" -> "1/s",
    "Downsample.parent_tile_per_s" -> "1/s",
    "Regions.sieveApply_s" -> "s",
    "Regions.sieveApply_jobs" -> "count",
    "Focal.focalMean3x3_s" -> "s",
    "Focal.focalMean3x3_jobs" -> "count",
    "GeoTiff.convert_s" -> "s",
    "Maintenance.validate_s" -> "s",
    "ingest.output_files" -> "count",
    "ingest.output_row_groups" -> "count")

  /** `gcMs` is the JVM's collection time over the traced phase: in local
    * mode driver and executors share the heap, and one pause stops every
    * task, so the tasks' own GC times would count it once per task. */
  def metrics(tracer: Tracer, ops: Seq[Main.Outcome], opIds: Set[Long],
      wallMs: Double, gcMs: Double, cores: Int): Seq[(String, Double)] = {
    val n = math.max(1, ops.size).toDouble
    val opSpans = tracer.spans.filter(s => s.name == "op" && opIds(s.id))
    val stages = opSpans.flatMap(s => tracer.stagesOf(s.id))
    val jobs = opSpans.map(s => tracer.jobsOf(s.id).size).sum
    val idleMs = opSpans.map { s =>
      s.durMs - Tracer.covered(tracer.stagesOf(s.id).map(a => (a.startMs, a.endMs)),
        s.startMs, s.endMs)
    }.sum
    val openMs = tracer.spans.filter(s => s.name == "open" && opIds(s.parent)).map(_.durMs).sum
    def total(f: StageAgg => Long): Double = stages.map(f).sum.toDouble
    val runMs = total(_.runMs)
    Seq(
      "driver.jobs_per_op" -> jobs / n,
      "driver.stages_per_op" -> stages.size / n,
      "driver.tasks_per_op" -> total(_.tasks) / n,
      "driver.idle_ms_per_op" -> idleMs / n,
      "RaquetIO.open_ms" -> openMs / n,
      "RaquetIO.rows_read_per_tile_used" -> total(_.inRecords) / math.max(1L, ops.map(_.tiles).sum),
      "RaquetIO.bytes_read_per_op" -> total(_.inBytes) / n,
      "RaquetIO.scan_tasks_per_op" -> total(_.scanTasks) / n,
      "executor.cpu_s" -> total(_.cpuNs) / 1e9 / n,
      "executor.run_s" -> runMs / 1e3 / n,
      "executor.gc_s" -> gcMs / 1e3 / n,
      "executor.deserialize_s" -> total(_.deserMs) / 1e3 / n,
      "executor.slot_utilization" -> runMs / (wallMs * cores),
      "executor.cpu_per_run" -> total(_.cpuNs) / 1e6 / math.max(1.0, runMs),
      "exchange.shuffle_write_mb" -> total(_.shWriteBytes) / 1e6 / n,
      "exchange.shuffle_read_mb" -> total(_.shReadBytes) / 1e6 / n,
      "exchange.spill_mb" -> total(_.spillBytes) / 1e6 / n)
  }
}
