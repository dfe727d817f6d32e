package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One timed op. `traced` samples come from the traced pass and feed
  * only the per-layer metrics. */
final case class OpSample(op: String, family: String, seconds: Double,
    constructS: Double, actionS: Double, records: Long, traced: Boolean)

/** State shared by a run: the session, the tracer, samples and named
  * failures. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
    val seed: Long, val cores: Int) {
  val samples = mutable.ArrayBuffer.empty[OpSample]
  /** One JSON object per failed op: op name, exception class, message. */
  val failures = mutable.ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  /** Named per-layer timings a workload records itself (seconds). */
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def addLayer(name: String, v: Double): Unit =
    layer(name) = layer.getOrElse(name, 0.0) + v

  def fail(op: String, cls: String, msg: String): Unit = synchronized {
    failed += 1
    val first = Option(msg).getOrElse("").linesIterator.nextOption()
      .getOrElse("")
    failures += Json.obj(Seq("op" -> Json.str(op), "class" -> Json.str(cls),
      "message" -> Json.str(first.take(300))))
    System.err.println(s"[perfbench] FAILED $op: $cls: $first")
  }

  def fail(op: String, e: Throwable): Unit =
    fail(op, e.getClass.getName, e.getMessage)

  /** Runs `body`, counting it as attempted and recording a throw as a
    * named failure. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    synchronized(attempted += 1)
    try Some(body)
    catch { case e: Throwable => fail(op, e); None }
  }

  /** Seconds `body` takes, with its result. */
  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** True while the traced pass runs. */
  var tracing = false
  def sample(op: String, family: String, seconds: Double,
      constructS: Double, actionS: Double, records: Long): Unit =
    samples += OpSample(op, family, seconds, constructS, actionS, records,
      tracing)
}

/** A workload: set-up, then passes over its ops. */
trait Workload {
  /** Mounts inputs and runs the warm pass, checking outputs. */
  def setup(): Unit
  /** One complete pass over the ops, numbered from 1. */
  def pass(n: Int): Unit
  /** Bytes of the user data the workload reads. */
  def inputBytes: Long
  /** Per-layer metrics only this workload can compute. */
  def layerMetrics(): Map[String, Double]
}

object Run {
  /** Bench's load-anchor probe: deterministic CPU (xxhash64 chain) plus
    * one shuffle and no I/O, so its time measures the box, not the
    * engine. */
  def anchor(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(0, 1L << 21, 1, 32)
      .selectExpr("id % 4096 as k",
        "xxhash64(xxhash64(xxhash64(id), id + 1), id + 2) as v")
      .groupBy("k").agg(org.apache.spark.sql.functions.sum("v").as("s"))
      .selectExpr("sum(s % 9973) as chk").count()
    (System.nanoTime() - t0) / 1e9
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  /** Tail latency: the mean of the slowest quarter of the samples (at
    * least one), the expected latency of an op beyond the 75th
    * percentile. An average over a quarter of the samples moves less
    * from run to run than any single order statistic of the few dozen
    * samples a run has. (seconds, samples averaged, samples). */
  def tail(xs: Seq[Double]): (Double, Int, Int) = {
    val n = xs.size
    if (n == 0) (0.0, 0, 0)
    else {
      val k = math.max(1, n / 4)
      (xs.sorted.takeRight(k).sum / k, k, n)
    }
  }

  /** The highest percentile with at least ten samples beyond it, or the
    * nearest-rank 90th percentile when that would sit below the median
    * (fewer than 21 samples). (seconds, percentile). */
  def percentileTail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted; val n = s.size
    if (n == 0) (0.0, 0.0)
    else {
      val i = if (n >= 21) n - 11 else math.ceil(0.9 * n).toInt - 1
      (s(i), 100.0 * (i + 1) / n)
    }
  }

  def dirBytes(p: java.nio.file.Path): Long =
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val st = java.nio.file.Files.walk(p)
      try {
        var b = 0L
        st.forEach { f =>
          if (java.nio.file.Files.isRegularFile(f))
            b += java.nio.file.Files.size(f)
        }
        b
      } finally st.close()
    }
}
