package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by perfbench/run.py.
  *
  * `--dump <file>` writes the query workload's ops and their DuckDB
  * oracle SQL. Otherwise one run: set-up (session, mounts, warm pass
  * with output checks), untraced passes for `--seconds`, and with
  * `--trace 1` one more pass with spans and listeners attached. The
  * result goes to `--out` as the JSON object run.py prints. */
object Main {
  /** (name, unit) of every metric, in output order. */
  val endToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "wall_s" -> "s", "op_p50_s" -> "s", "op_tail_s" -> "s",
    "records_per_s" -> "rec/s", "space_amp" -> "ratio",
    "heap_retained_mb" -> "MB")

  val perLayer: Seq[(String, String)] =
    Queries.families.flatMap(f => Seq(s"$f.construct_s" -> "s",
      s"$f.action_s" -> "s", s"$f.stages" -> "count", s"$f.task_cpu_s" -> "s",
      s"$f.shuffle_mb" -> "MB", s"$f.parallel_eff" -> "ratio",
      s"$f.idle_s" -> "s")) ++ Seq(
      "spark.jobs" -> "count", "spark.aqe_replans" -> "count",
      "spark.spill_mb" -> "MB", "spark.gc_s" -> "s",
      "spark.task_skew" -> "ratio") ++
      Seq("extract", "validate", "check_consent", "transform", "load")
        .map(s => s"etl.stage.${s}_s" -> "s") ++ Seq(
      "etl.backfill_s" -> "s", "etl.valid_frac" -> "ratio",
      "etl.consented_frac" -> "ratio",
      "store.commit_s" -> "s", "store.commits" -> "count",
      "store.files_written" -> "count", "store.write_amp" -> "ratio",
      "store.compact_s" -> "s", "store.rewrite_mb" -> "MB",
      "store.vacuum_s" -> "s", "store.segments_max" -> "count",
      "store.read_s" -> "s", "store.scan_frac" -> "ratio",
      "core.mount_s" -> "s", "box.anchor_s" -> "s",
      "trace.overhead_frac" -> "ratio")

  private def parse(argv: Array[String]): Map[String, String] =
    argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    a.get("dump") match {
      case Some(f) => dump(Paths.get(f))
      case None => run(a)
    }
  }

  private def dump(f: Path): Unit = {
    val wl = Seq("relational_sweep" -> Queries.relational)
    val sql = graft.SparkEntry.oracleSql
    val json = Json.obj(wl.map { case (w, ops) =>
      w -> Json.obj(ops.map(o => o -> sql.get(o).map(Json.str).getOrElse("null")))
    })
    Files.writeString(f, json)
  }

  private def run(a: Map[String, String]): Unit = {
    val t0 = System.nanoTime()
    val work = Paths.get(a("work"))
    val cores = a("cores").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(f"[perfbench] session ${(System.nanoTime() - t0) / 1e9}%.3f s")
    val tracer = new Tracer(spark)
    val ctx = new Ctx(spark, tracer, a("seed").toLong, cores)
    val data = a("data")
    val wl: Workload = a("workload") match {
      case "relational_sweep" =>
        new QueryWorkload(ctx, data, Queries.relational, a("expected"))
      case "etl_ingest" => new EtlWorkload(ctx, data, work, a("expected"))
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    wl.setup()
    // untimed: the first recorded anchor must not carry codegen bring-up
    Run.anchor(spark)
    ctx.samples.clear()
    val setupS = (System.nanoTime() - t0) / 1e9
    System.gc() // the warm pass's garbage is not the first op's cost

    val seconds = a("seconds").toDouble
    val walls = mutable.ArrayBuffer.empty[Double]
    val anchors = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var n = 0
    // at least three passes: with one or two, the 6-16 ops of a pass give
    // too few samples for a steady tail, and the first passes carry most
    // of the JIT warm-up
    while (n < 3 || (System.nanoTime() - start) / 1e9 < seconds) {
      n += 1
      anchors += Run.anchor(spark)
      walls += ctx.timed(wl.pass(n))._2
    }
    // Traced run: after the untraced passes, one traced pass, then one
    // more untraced pass; the overhead compares the traced pass with the
    // mean of its untraced neighbours. Only per-layer metrics are reported.
    val trace = a("trace") == "1"
    var overhead = 0.0
    var tracedWalls = Seq.empty[Double]
    if (trace) {
      ctx.tracing = true
      tracer.enable()
      anchors += Run.anchor(spark)
      val traced = tracer.span("pass")(ctx.timed(wl.pass(n + 1))._2)
      tracer.disable()
      ctx.tracing = false
      val before = ctx.samples.size
      val after = ctx.timed(wl.pass(n + 2))._2
      ctx.samples.remove(before, ctx.samples.size - before)
      overhead = traced / ((walls.last + after) / 2) - 1
      tracedWalls = Seq(traced, after)
    }

    val untraced = ctx.samples.filterNot(_.traced)
    val lat = untraced.map(_.seconds).toSeq
    val (tailS, nTail, nSamples) = Run.tail(lat)
    val (pctS, pct) = Run.percentileTail(lat)
    val userBytes = wl.inputBytes.toDouble
    val written = Run.dirBytes(work.resolve("tmp")) +
      Run.dirBytes(work.resolve("store"))
    val layer: Map[String, Double] =
      if (trace) perLayerValues(ctx, wl, overhead, Run.median(anchors.toSeq))
      else Map.empty
    val e2e = Map(
      "setup_s" -> setupS,
      "wall_s" -> Run.median(walls.toSeq),
      "op_p50_s" -> Run.median(lat),
      "op_tail_s" -> tailS,
      "records_per_s" -> untraced.map(_.records).sum / math.max(1e-9, lat.sum),
      "space_amp" -> (userBytes + written) / math.max(1.0, userBytes),
      "heap_retained_mb" -> retainedHeapMb(spark))
    def metricsJson(spec: Seq[(String, String)], v: Map[String, Double]) =
      Json.obj(spec.map { case (k, u) =>
        k -> Json.obj(Seq("value" -> Json.num(v.getOrElse(k, 0.0)),
          "unit" -> Json.str(u)))
      })
    val result = Json.obj(Seq(
      "correct" -> (ctx.failed == 0).toString,
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "metrics" -> (if (trace) metricsJson(perLayer, layer)
                    else metricsJson(endToEnd, e2e))))
    val report = Json.obj(Seq(
      "failures" -> ctx.failures.mkString("[", ",", "]"),
      "passes" -> walls.size.toString,
      "pass_wall_s" -> walls.map(Json.num).mkString("[", ",", "]"),
      "traced_and_after_wall_s" ->
        tracedWalls.map(Json.num).mkString("[", ",", "]"),
      "anchor_s" -> anchors.map(Json.num).mkString("[", ",", "]"),
      "op_tail_samples" -> nTail.toString,
      "op_percentile" -> Json.num(pct),
      "op_percentile_s" -> Json.num(pctS),
      "op_samples" -> nSamples.toString,
      "op_s" -> Json.obj(untraced.groupBy(_.op).toSeq.sortBy(_._1).map {
        case (op, ss) => op -> ss.map(x => Json.num(x.seconds))
          .mkString("[", ",", "]") }),
      "end_to_end" -> metricsJson(endToEnd, e2e),
      "per_layer" -> metricsJson(perLayer, layer),
      "span_self_s" -> Json.obj(tracer.selfTimes.map { case (k, s, c) =>
        k -> Json.obj(Seq("self_s" -> Json.num(s), "count" -> c.toString)) })))
    if (trace) tracer.writeSpans(work.resolve("spans.jsonl"))
    Files.writeString(work.resolve("report.json"), report)
    Files.writeString(Paths.get(a("out")), result)
  }

  /** Heap the process still holds once the session is stopped: what the
    * engine's process-wide memos keep, without Spark's status store, whose
    * size depends on the timing of its asynchronous cleanup. The lowest of
    * three full collections. */
  private def retainedHeapMb(spark: SparkSession): Double = {
    spark.stop()
    (1 to 3).map { _ =>
      System.gc()
      java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  /** Per-layer values of the traced pass. */
  private def perLayerValues(ctx: Ctx, wl: Workload, overhead: Double,
      anchor: Double): Map[String, Double] = {
    val traced = ctx.samples.filter(_.traced)
    val ops = ctx.tracer.ops
    val fam = Queries.families.flatMap { f =>
      val s = traced.filter(_.family == f)
      val o = ops.filter(_.family == f)
      val wallMs = o.map(_.wallMs).sum.toDouble
      Seq(s"$f.construct_s" -> s.map(_.constructS).sum,
        s"$f.action_s" -> s.map(_.actionS).sum,
        s"$f.stages" -> o.map(_.stages).sum.toDouble,
        s"$f.task_cpu_s" -> o.map(_.taskCpuNs).sum / 1e9,
        s"$f.shuffle_mb" -> o.map(_.shuffleBytes).sum / 1e6,
        s"$f.parallel_eff" -> (if (wallMs > 0)
          o.map(_.taskRunMs).sum / (wallMs * ctx.cores) else 0.0),
        s"$f.idle_s" -> o.map(_.idleMs).sum / 1e3)
    }
    fam.toMap ++ ctx.layer ++ wl.layerMetrics() ++ Map(
      "spark.jobs" -> ops.map(_.jobs).sum.toDouble,
      "spark.aqe_replans" -> ops.map(_.aqeReplans).sum.toDouble,
      "spark.spill_mb" -> ops.map(_.spillBytes).sum / 1e6,
      "spark.gc_s" -> ops.map(_.gcMs).sum / 1e3,
      "spark.task_skew" -> ops.map(_.worstSkew).foldLeft(0.0)(math.max),
      "box.anchor_s" -> anchor,
      "trace.overhead_frac" -> overhead)
  }
}
