package rqbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.raquet.RaquetIO

/** The benchmark's JVM. Two modes:
  *
  *  - `prepare --home H --fixture DIR --fixture-seed N` builds a fixture.
  *  - `run --home H --fixture DIR --workload W --seed S --seconds T
  *    --trace 0|1 [--inject-wrong 1]` measures one workload and prints a
  *    record line, in a traced run the trace lines, and last the result.
  *
  * A run opens one Spark session (`local[N]`, N = available cores), drives
  * one closed-loop client on the calling thread and checks every output.
  * Untraced, every measured round counts towards the end-to-end metrics.
  * Traced, the first half of the time is measured untraced and the second
  * half with the tracer on; the difference is the tracing overhead, and the
  * layer metrics come from the traced half and the probes after it. */
object Main {

  final case class Outcome(kind: String, ms: Double, pixels: Long, tiles: Long,
      error: Option[String], spanId: Long)

  def main(args: Array[String]): Unit = {
    java.util.Locale.setDefault(java.util.Locale.ROOT)
    val code =
      try {
        val mode = args.headOption.getOrElse("")
        val opts = args.drop(1).grouped(2).collect {
          case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
        }.toMap
        mode match {
          case "prepare" => prepare(opts)
          case "run" => run(opts)
          case other => throw new IllegalArgumentException(s"unknown mode '$other'")
        }
      } catch {
        case NonFatal(e) =>
          e.printStackTrace()
          println(Json(Json.obj("record" -> Json.obj("error" -> e.toString))))
          3
      }
    System.exit(code)
  }

  def session(home: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val s = graft.SessionDefaults.tuned(SparkSession.builder()
      .master(s"local[$cores]")
      .appName("rqbench")
      .config("spark.sql.shuffle.partitions", cores.toString))
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.functions.GraftExtensions")
      .config("spark.local.dir", home.resolve("tmp/spark").toString)
      .config("spark.sql.warehouse.dir", home.resolve("tmp/warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def prepare(opts: Map[String, String]): Int = {
    val home = Paths.get(opts("home"))
    val dir = Paths.get(opts("fixture"))
    val fs = opts("fixture-seed").toInt
    val spark = session(home)
    val buildS = try Fixture.build(spark, dir, fs) finally spark.stop()
    println(Json(Json.obj("fixture_build" -> Json.obj("dir" -> dir.toString,
      "fixture_seed" -> fs, "layout" -> Fixture.Layout, "build_s" -> buildS))))
    0
  }

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; NaN for no samples. */
  private def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def peakRssMb(): Double = {
    import scala.jdk.CollectionConverters._
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.substring(6).trim.stripSuffix("kB").trim.toDouble / 1024.0 }
      .getOrElse(Double.NaN)
  }

  private def runOp(op: Op, tracer: Tracer): Outcome =
    try {
      val (r, span) = tracer.op(op.kind) { id =>
        val p = tracer.child(id, "open", op.kind)(op.open())
        tracer.child(id, "execute", op.kind)(op.execute(p))
      }
      val err = try op.check(r) catch { case NonFatal(e) => Some(s"${op.kind} check: $e") }
      Outcome(op.kind, span.durMs, op.pixels, op.tiles, err, span.id)
    } catch {
      case NonFatal(e) =>
        Outcome(op.kind, Double.NaN, op.pixels, op.tiles, Some(s"${op.kind}: $e"), -1L)
    }

  private def run(opts: Map[String, String]): Int = {
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val home = Paths.get(opts("home"))
    val dir = Paths.get(opts("fixture"))
    val name = opts("workload")
    require(Workloads.Names.contains(name),
      s"unknown workload '$name'; expected one of ${Workloads.Names.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    require(seconds > 0, s"--seconds must be positive, got $seconds")
    val trace = opts("trace") == "1"
    val injectWrong = opts.get("inject-wrong").contains("1")
    val cores = Runtime.getRuntime.availableProcessors
    Bench.spinMs(); Bench.spinMs() // JIT-warm the calibration loop
    val envAtStart = Bench.cpuEnvJson()

    // set-up: session, then open and check the fixture; the first from JVM
    // start, then twice more in a fresh session; the median is reported
    var spark = session(home)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    def openChecked(): (Fixture, Double) = {
      val t0 = System.nanoTime()
      val f = Fixture.load(spark, dir)
      f.check(spark)
      (f, (System.nanoTime() - t0) / 1e9)
    }
    var (fx, openS) = openChecked()
    val setups = ArrayBuffer(sessionS + openS)
    for (_ <- 1 to 2) {
      spark.stop()
      val t0 = System.nanoTime()
      spark = session(home)
      val (f, _) = openChecked()
      fx = f
      setups += (System.nanoTime() - t0) / 1e9
    }

    val tmpDir = home.resolve("tmp").resolve(s"run-${ProcessHandle.current().pid()}")
    Files.createDirectories(tmpDir)
    val ctx = new Ctx(spark, fx, seed, injectWrong)
    val workload = Workloads(name, ctx)
    val tracer = new Tracer(spark)
    val all = ArrayBuffer.empty[Outcome]
    var roundNo = 0
    def doRound(): Seq[Outcome] = {
      val res = workload.round(roundNo).map(runOp(_, tracer))
      roundNo += 1
      all ++= res
      res
    }
    // rounds until `secs` have passed; a round that would end nearer to the
    // deadline without it than with it is not started, so a run measures
    // `secs` on average whatever a round costs
    def loop(secs: Double): Seq[Seq[Outcome]] = {
      val out = ArrayBuffer.empty[Seq[Outcome]]
      val t0 = System.nanoTime()
      val end = t0 + (secs * 1e9).toLong
      def next = (System.nanoTime() - t0) / out.size
      while (out.isEmpty || System.nanoTime() + next / 2 < end) out += doRound()
      out.toSeq
    }

    loop(Workloads.WarmupSeconds)
    val host = new Bench.ContentionProbe()
    val untraced = loop(if (trace) seconds / 2 else seconds)
    val hostFields = Json.obj(
      "spin_ms_at_start" -> host.spinAtStart,
      "foreign_cores" -> host.foreignCores(), "own_cores" -> host.ownCores(),
      "steal_cores" -> host.stealCores(), "iowait_cores" -> host.iowaitCores(),
      "throttled_usec" -> host.throttledDeltaUsec(), "gc_ms" -> host.gcDeltaMs(),
      "read_mb" -> host.readMb())

    def roundMs(r: Seq[Outcome]): Double = r.map(_.ms).sum
    def mpixPerS(rounds: Seq[Seq[Outcome]]): Double = {
      val ops = rounds.flatten.filterNot(_.ms.isNaN)
      ops.map(_.pixels).sum / (ops.map(_.ms).sum / 1e3) / 1e6
    }

    var layerMetrics = Seq.empty[(String, Double)]
    var traceLines = Seq.empty[String]
    var probeErrors = Seq.empty[String]
    if (trace) {
      tracer.start()
      val t0 = tracer.now()
      val gc0 = Bench.gcMillis()
      val traced = loop(seconds / 2)
      val tracedWallMs = tracer.now() - t0
      val tracedGcMs = (Bench.gcMillis() - gc0).toDouble
      val (opProbes, errs) = Probes.operators(spark, fx, tracer, tmpDir)
      probeErrors = errs
      tracer.stop()
      val codec = Probes.codecAndKernel(spark, fx, seed)
      val tracedIds = traced.flatten.map(_.spanId).toSet
      layerMetrics = Layers.metrics(tracer, traced.flatten, tracedIds, tracedWallMs,
        tracedGcMs, cores) ++
        codec ++ opProbes
      val spans = tracer.spans.toSeq ++ tracer.sparkSpans()
      val workloadSpans = {
        val opIds = spans.filter(s => s.name == "op" && tracedIds(s.id)).map(_.id).toSet
        val keep = scala.collection.mutable.Set[Long]() ++ opIds
        spans.sortBy(_.startMs).foreach(s => if (keep(s.parent)) keep += s.id)
        spans.filter(s => keep(s.id))
      }
      val self = Tracer.selfTimes(workloadSpans)
      val nOps = tracedIds.size.max(1)
      val untracedP50 = median(untraced.map(roundMs))
      val tracedP50 = median(traced.map(roundMs))
      val spansFile = home.resolve("traces").resolve(s"$name-seed$seed.json")
      Files.createDirectories(spansFile.getParent)
      Files.writeString(spansFile, Json(spans.map(_.toJson)))
      traceLines = Seq(
        Json(Json.obj("trace" -> Json.obj(
          "ops" -> tracedIds.size, "rounds" -> traced.size,
          "self_ms_per_op" -> self.map { case (k, (_, ms)) => k -> ms / nOps },
          "spans_per_op" -> self.map { case (k, (n, _)) => k -> n.toDouble / nOps },
          "overhead" -> Json.obj("untraced_round_p50_ms" -> untracedP50,
            "traced_round_p50_ms" -> tracedP50, "ratio" -> tracedP50 / untracedP50),
          "spans_file" -> spansFile.toString))),
        Json(Json.obj("trace_spans" -> spans.map(_.toJson))))
    }

    val errors = all.flatMap(_.error) ++ probeErrors
    val measured = untraced.flatten
    val record = Json.obj("record" -> Json.obj(
      "workload" -> name, "seed" -> seed, "fixture_seed" -> fx.fixtureSeed,
      "trace" -> trace, "cores" -> cores, "seconds" -> seconds,
      "measured_rounds" -> untraced.size,
      "ops" -> measured.groupBy(_.kind).map { case (k, os) =>
        val ms = os.map(_.ms)
        k -> Json.obj("n" -> os.size, "p50_ms" -> median(ms),
          "p90_ms" -> quantile(ms, 0.9), "max_ms" -> ms.max)
      },
      "round_ms" -> untraced.map(roundMs),
      "attempted_per_kind" -> all.groupBy(_.kind).map { case (k, os) => k -> os.size },
      "setup_s_each" -> setups.toSeq, "setup_session_s" -> sessionS,
      "fixture" -> Json.obj("dir" -> dir.toString, "layout" -> Fixture.Layout,
        "build_s" -> fx.buildS),
      "host" -> hostFields,
      "cpu_env_start" -> envAtStart, "cpu_env_end" -> Bench.cpuEnvJson(),
      "errors" -> errors.take(20)))
    println(Json(record))
    traceLines.foreach(println)

    val metrics: Seq[(String, Double)] =
      if (trace) layerMetrics
      else Seq(
        "setup_s" -> median(setups.toSeq),
        "peak_rss_mb" -> peakRssMb(),
        "round_p50_ms" -> median(untraced.map(roundMs)),
        "mpix_per_s" -> mpixPerS(untraced),
        "stored_bytes_per_raw_byte" -> fx.storedBytesPerRawByte)
    spark.stop()
    RaquetIO.deleteTree(tmpDir.toString)
    val attempted = all.size + (if (trace) Probes.OperatorCalls else 0)
    val failed = errors.size
    println(Json(Json.obj(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
      "metrics" -> Json.obj(metrics.map { case (k, v) =>
        k -> Json.obj("value" -> v, "unit" -> Layers.Units(k)) }: _*))))
    if (failed == 0) 0 else 1
  }
}
