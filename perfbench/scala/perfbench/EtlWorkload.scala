package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.core.Pipeline.RunSummary
import graft.etl.PatientIngestion
import graft.ops.{AesCodec, AtomicPublish, Compaction}

/** The write workload. A pass builds a fresh store: a bulk backfill
  * through `PatientIngestion.ingest` + `AtomicPublish.publish`, a stream
  * of API batches through `pipeline().run` + `upsertMany` with periodic
  * `compactStore` + `vacuum`, then point reads and a full read-back that
  * is checked against the generator's ground truth. Only the API batches
  * are ops for the latency metrics; the other steps are timed as layer
  * spans and count in the pass wall time. */
final class EtlWorkload(ctx: Ctx, dir: String, work: Path,
    expectedPath: String) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val codec = AesCodec(Array.tabulate[Byte](32)(i => (i * 7 + 3).toByte))
  private val expected = Json.read(expectedPath).get("etl")
  private val maintainEvery = expected.get("maintain_every").asInt
  private val warmBatches = expected.get("warm_batches").asInt
  private val stages = Seq("extract", "validate", "check_consent",
    "transform", "load")
  private var batches: Seq[Seq[Row]] = Nil
  private val inputs = Seq("backfill.parquet", "batches.parquet")

  def inputBytes: Long = inputs.map(f => Run.dirBytes(Paths.get(dir, f))).sum

  def setup(): Unit = {
    val (_, mountS) = ctx.timed {
      val all = spark.read.parquet(s"$dir/batches.parquet")
        .orderBy("batch", "pos").collect()
      val cols = PatientIngestion.inputSchema.fieldNames
      batches = all.groupBy(_.getAs[Int]("batch")).toSeq.sortBy(_._1)
        .map(_._2.toSeq.map(r => Row.fromSeq(cols.map(c => r.get(r.fieldIndex(c))))))
    }
    // it reads no tables through core.Tables: its mount is loading the
    // API payloads
    ctx.addLayer("core.mount_s", mountS)
    pass(0)
  }

  /** Pass 0 is the warm pass: the backfill, the first `warmBatches`
    * batches and one maintenance, checked against the ground truth at
    * that point of the stream. */
  private def truth(n: Int) = expected.get(if (n == 0) "warm" else "full")

  private def root(n: Int): Path = work.resolve("store").resolve(s"pass$n")

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val st = Files.walk(p)
    try st.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(Files.delete(_))
    finally st.close()
  }

  // per-pass layer accounting; the traced pass's values are reported
  private val commitS = mutable.ArrayBuffer.empty[Double]
  private var segmentsMax = 0
  private var counts = Array(0L, 0L, 0L) // extracted, valid, consented
  private var liveFiles = 0

  private def layer(name: String, v: Double): Unit =
    if (ctx.tracing) ctx.addLayer(name, v)

  private def segments(r: String): Int =
    AtomicPublish.currentManifestMeta(spark, r).map(_._2("patients").owners.size)
      .getOrElse(0)

  def pass(n: Int): Unit = {
    val rootP = root(n)
    delete(root(n - 1)) // keep only the newest store on disk
    delete(rootP)
    val r = rootP.toString
    commitS.clear(); segmentsMax = 0; counts = Array(0L, 0L, 0L)
    var invalid = 0L
    var blocked = 0L

    ctx.attempt("backfill") {
      val (_, s) = ctx.timed(ctx.tracer.op(s"backfill#$n", "etl") {
        val res = ctx.tracer.span("ingest")(PatientIngestion.ingest(
          spark.read.parquet(s"$dir/backfill.parquet"), codec))
        val c = res.counts
        counts = Array(c.extract, c.valid, c.consented)
        invalid += c.extract - c.valid
        blocked += c.valid - c.consented
        val (_, ps) = ctx.timed(ctx.tracer.span("publish")(AtomicPublish.publish(
          spark, r, Map("patients" -> res.loaded,
            "quarantine" -> res.validationErrors.select("mrn", "errors"),
            "blocked" -> res.consentBlocked),
          statsBy = Map("patients" -> Seq("mrn")))))
        commitS += ps
      })
      layer("etl.backfill_s", s)
    }

    val stream = if (n == 0) batches.take(warmBatches) else batches
    stream.zipWithIndex.foreach { case (rows, b) =>
      ctx.attempted += 1
      try {
        var summary: RunSummary = null
        var up = 0.0
        val t0 = System.nanoTime()
        ctx.tracer.op(s"batch$b#$n", "etl") {
          val df = PatientIngestion.batchFromRows(spark, rows)
          summary = ctx.tracer.span("pipeline.run")(
            PatientIngestion.pipeline(codec).run(Map("raw_records" -> df)))
          if (summary.status != "completed")
            throw new IllegalStateException("pipeline " + summary.status + ": " +
              summary.tasks.collect { case (s, t) if t.error.isDefined =>
                s"$s: ${t.error.get}" }.mkString("; "))
          def res(stage: String, key: String): Any = summary(stage).result(key)
          val loaded = res("load", "loaded_records").asInstanceOf[DataFrame]
          val t1 = System.nanoTime()
          ctx.tracer.span("upsertMany")(AtomicPublish.upsertMany(spark, r,
            Map("patients" -> AtomicPublish.Upsert(loaded, loaded.select("mrn"))),
            extraAppend = Map(
              "quarantine" -> res("validate", "validation_errors")
                .asInstanceOf[DataFrame].select("mrn", "errors"),
              "blocked" -> res("check_consent", "consent_blocked")
                .asInstanceOf[DataFrame])))
          up = (System.nanoTime() - t1) / 1e9
          res("extract", "extracted_records").asInstanceOf[DataFrame].unpersist()
        }
        val s = (System.nanoTime() - t0) / 1e9
        commitS += up
        def cnt(stage: String, key: String): Long =
          summary(stage).result(key).asInstanceOf[Long]
        counts(0) += cnt("extract", "extract_count")
        counts(1) += cnt("validate", "valid_count")
        counts(2) += cnt("check_consent", "consented_count")
        invalid += cnt("validate", "invalid_count")
        blocked += cnt("check_consent", "blocked_count")
        stages.foreach(st =>
          layer(s"etl.stage.${st}_s", summary(st).durationMs / 1000))
        ctx.sample("batch", "etl", s, 0.0, 0.0, rows.size.toLong)
      } catch { case e: Throwable => ctx.fail(s"batch$b", e) }
      if ((b + 1) % maintainEvery == 0 || (n == 0 && b + 1 == stream.size))
        maintain(r, n, b)
    }
    spark.catalog.clearCache()

    readBack(r, n, invalid, blocked)
    if (ctx.tracing) {
      layer("store.commit_s", Run.median(commitS.toSeq))
      layer("store.commits", commitS.size + stream.size / maintainEvery)
      layer("store.segments_max", math.max(segmentsMax, segments(r)))
      layer("etl.valid_frac", counts(1).toDouble / math.max(1L, counts(0)))
      layer("etl.consented_frac", counts(2).toDouble / math.max(1L, counts(1)))
      liveFiles = AtomicPublish.readTable(spark, r, "patients").inputFiles.length
    }
  }

  private def maintain(r: String, n: Int, b: Int): Unit =
    ctx.attempt("maintain") {
      if (ctx.tracing) segmentsMax = math.max(segmentsMax, segments(r))
      ctx.tracer.op(s"maintain$b#$n", "store") {
        val (_, cs) = ctx.timed(ctx.tracer.span("compactStore")(
          Compaction.compactStore(spark, r, "patients")))
        val (_, vs) = ctx.timed(ctx.tracer.span("vacuum")(
          AtomicPublish.vacuum(spark, r, keepLast = 1, graceMs = 0L)))
        layer("store.compact_s", cs)
        layer("store.vacuum_s", vs)
      }
    }

  private def readBack(r: String, n: Int, invalid: Long, blocked: Long): Unit = {
    val want = truth(n)
    val points = want.get("points")
    (0 until points.size).foreach { i =>
      val mrn = points.get(i).get(0).asText
      val rowsWanted = points.get(i).get(1).asLong
      ctx.attempt("point_read") {
        val (c, s) = ctx.timed(ctx.tracer.op(s"point$i#$n", "store") {
          ctx.tracer.span("readTableWhere")(AtomicPublish.readTableWhere(
            spark, r, "patients", s"mrn = '$mrn'")).count()
        })
        layer("store.read_s", s)
        if (c != rowsWanted) ctx.fail("point_read", "OutputMismatch",
          s"mrn $mrn: $c rows, ground truth $rowsWanted")
      }
    }
    ctx.attempt("read_back") {
      val ((rows, q, bl), s) = ctx.timed(ctx.tracer.op(s"read_back#$n", "store") {
        ctx.tracer.span("readTable") {
          val rows = AtomicPublish.readTable(spark, r, "patients")
            .select("encrypted_dob", "gender", "mrn", "encrypted_name",
              "encrypted_ssn").collect()
          (rows, AtomicPublish.readTable(spark, r, "quarantine").count(),
            AtomicPublish.readTable(spark, r, "blocked").count())
        }
      })
      layer("store.read_s", s)
      def dec(x: String): String = if (x == null) null else codec.decrypt(x)
      val plain = rows.map(x => Row(dec(x.getString(0)), x.getString(1),
        x.getString(2), dec(x.getString(3)), dec(x.getString(4))))
      val schema = StructType(Seq("birthDate", "gender", "mrn", "name", "ssn")
        .map(StructField(_, StringType)))
      val (_, nRows, hash) = Canon.digest(schema, plain)
      val p = want.get("patients")
      if (nRows != p.get("rows").asLong || hash != p.get("hash").asText)
        ctx.fail("read_back", "OutputMismatch", s"patients rows=$nRows " +
          s"hash=$hash; ground truth rows=${p.get("rows").asLong} " +
          s"hash=${p.get("hash").asText}")
      Seq(("quarantine", q, invalid), ("blocked", bl, blocked)).foreach {
        case (t, got, counted) =>
          val truthRows = want.get(t).asLong
          if (got != truthRows || counted != truthRows) ctx.fail("read_back",
            "OutputMismatch", s"$t: table $got rows, stages counted " +
              s"$counted, ground truth $truthRows")
      }
    }
  }

  def layerMetrics(): Map[String, Double] = {
    val ops = ctx.tracer.ops
    val user = inputBytes.toDouble
    val points = ops.filter(_.op.startsWith("point"))
    val live = liveFiles.toDouble
    Map(
      "store.files_written" -> ops.map(_.filesWritten).sum.toDouble,
      "store.write_amp" -> ops.map(_.outputBytes).sum / math.max(1.0, user),
      "store.rewrite_mb" ->
        ops.filter(_.op.startsWith("maintain")).map(_.outputBytes).sum / 1e6,
      "store.scan_frac" -> (if (live > 0 && points.nonEmpty)
        points.map(_.scanFiles).sum / (live * points.size) else 0.0))
  }
}
