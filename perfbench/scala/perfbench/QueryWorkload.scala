package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.core.Tables

/** The read-only query workload: each op is one `SparkEntry.queries`
  * function, timed as construction (`fn(spark, dir)`) plus `count()`. */
object Queries {
  /** Floor-bound: relational, window, event, expression and store
    * queries whose warm cost is mostly serial job, stage and AQE rounds.
    * Chosen so the warm pass (cold plans, output collection and store
    * staging) fits the run budget: a7/a13 take 4-11 s to collect although
    * `count()` prunes their percentile aggregates to 0.2 s, and the store
    * ops kept here stage their stores in about a second. */
  val relational: Seq[String] = Seq(
    "q1_agg", "q6_filter_sum", "q20_nested_in",
    "j1_semi_join", "j2_broadcast_join", "j5_q3_revenue",
    "a3_rollup", "a8_pivot",
    "w1_rank_topk", "w2_lag_delta",
    "e1_tumbling_window", "e6_skew_join",
    "x16_bitwise_null",
    "store4_catalog_sql", "store10_bucket_join", "store19_metadata_agg")

  def family(op: String): String =
    if (op.startsWith("store")) "store" else op.takeWhile(_.isLetter)

  val families = Seq("q", "j", "a", "w", "e", "x", "store")

  val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
}

/** The seed shuffles the op order of every pass; the inputs are fixed. */
final class QueryWorkload(ctx: Ctx, dir: String, ops: Seq[String],
    expectedPath: String) extends Workload {
  private val spark: SparkSession = ctx.spark
  private val fns = SparkEntry.queries
  private val expected = Json.read(expectedPath).get("ops")

  def inputBytes: Long = Queries.tables.map(t =>
    Run.dirBytes(java.nio.file.Paths.get(s"$dir/$t.parquet"))).sum

  private def order(pass: Int): Seq[String] =
    new scala.util.Random(ctx.seed * 1000003L + pass).shuffle(ops)

  def setup(): Unit = {
    val (_, mountS) = ctx.timed(Queries.tables.foreach { t =>
      if (t == "events") Tables.events(spark, dir) else Tables(spark, dir, t)
    })
    ctx.addLayer("core.mount_s", mountS)
    System.err.println(f"[perfbench] mount $mountS%.3f s")
    // Warm pass: every op once, collected and checked against the oracle.
    // It is set-up, not the closed loop, so ops run `cores` at a time:
    // their cold costs (planning, codegen, store staging) are driver-side
    // and overlap.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ctx.cores)
    try {
      order(0).map(name => pool.submit(new Runnable {
        def run(): Unit = warm(name)
      })).foreach(_.get())
    } finally pool.shutdown()
  }

  /** Collects the op's rows and checks them against the oracle. */
  private def warm(name: String): Unit = ctx.attempt(name) {
    val t0 = System.nanoTime()
    val df = fns(name)(spark, dir)
    val rows = df.collect()
    release(df)
    val (cols, n, hash) = Canon.digest(df.schema, rows)
    val e = expected.get(name)
    if (e == null) ctx.fail(name, "NoExpectation", "no oracle result")
    else {
      val eCols = (0 until e.get("cols").size).map(e.get("cols").get(_).asText)
      val eRows = e.get("rows").asLong
      val eHash = e.get("hash").asText
      if (cols != eCols || n != eRows || hash != eHash)
        ctx.fail(name, "OutputMismatch",
          s"rows=$n hash=$hash cols=${cols.mkString(",")}; oracle " +
            s"rows=$eRows hash=$eHash cols=${eCols.mkString(",")}")
    }
    System.err.println(f"[perfbench] warm $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
  }

  /** Frees the query's checkpoint blocks outside the timed window, as
    * Bench does. */
  private def release(df: DataFrame): Unit =
    try org.apache.spark.sql.graftstream.StreamingBridge.unpersistCheckpoint(df)
    catch { case _: Throwable => () }

  def pass(n: Int): Unit = order(n).foreach { name =>
    val fam = Queries.family(name)
    ctx.attempted += 1
    var df: DataFrame = null
    var c = -1L
    var t0, t1, t2 = 0L
    try ctx.tracer.op(s"$name#$n", fam) {
      t0 = System.nanoTime()
      df = ctx.tracer.span("construct")(fns(name)(spark, dir))
      t1 = System.nanoTime()
      c = ctx.tracer.span("action")(df.count())
      t2 = System.nanoTime()
    } catch { case e: Throwable => ctx.fail(name, e) }
    if (df != null) release(df)
    if (c >= 0) {
      val eRows = Option(expected.get(name)).map(_.get("rows").asLong)
      if (!eRows.contains(c))
        ctx.fail(name, "OutputMismatch",
          s"count=$c, oracle rows=${eRows.getOrElse("none")}")
      System.err.println(f"[perfbench] pass $n $name ${(t2 - t0) / 1e9}%.3f s")
      ctx.sample(name, fam, (t2 - t0) / 1e9, (t1 - t0) / 1e9,
        (t2 - t1) / 1e9, c)
    }
  }

  def layerMetrics(): Map[String, Double] = {
    val store = ctx.samples.filter(s => s.traced && s.family == "store")
    val files = ctx.tracer.ops.filter(_.family == "store").map(_.scanFiles).sum
    // live files: what the store ops' relations would list unpruned
    val live = store.map(_.op).distinct.map { name =>
      try fns(name)(spark, dir).inputFiles.length.toLong
      catch { case _: Throwable => 0L }
    }.sum
    Map("store.read_s" -> store.map(_.seconds).sum,
      "store.scan_frac" -> (if (live > 0) files.toDouble / live else 0.0))
  }
}
