package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** State of one benchmark run: the session, the seeded generator, the
  * timed samples per operation kind, the workload-named metrics, and
  * the failure and check accounting behind `error_rate`. */
final class Run(val spark: SparkSession, val seed: Long, val seconds: Int,
                val data: String, val warm: String, val work: String) {
  val rnd = new java.util.Random(seed)
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val named = mutable.LinkedHashMap.empty[String, (Double, String)]
  val checks = mutable.ArrayBuffer.empty[(String, Boolean)]
  val layer = mutable.LinkedHashMap.empty[String, Double]

  def record(kind: String, s: Double): Unit =
    samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += s

  /** One timed call into a layer: a span named `span`, its wall time
    * recorded under `kind`. A call that throws counts as failed and
    * records no time. */
  def op[T](kind: String, span: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val out = Trace.span(span)(body)
      record(kind, (System.nanoTime() - t0) / 1e9)
      Some(out)
    } catch {
      case e: Exception =>
        failed += 1
        System.err.println(s"[graftbench] $kind failed: $e")
        None
    }
  }

  /** An output check; a failing (or throwing) check counts in
    * `error_rate`. Checks run outside the timed window. */
  def check(desc: String)(ok: => Boolean): Unit = {
    attempted += 1
    val pass = try ok catch {
      case e: Exception => System.err.println(s"[graftbench] check '$desc' threw: $e"); false
    }
    if (!pass) { failed += 1; System.err.println(s"[graftbench] check FAILED: $desc") }
    checks += desc -> pass
  }

  /** Time a set-up step (recorded under `setup.<part>`, not a span). */
  def timed[T](part: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val out = body
    record(s"setup.$part", (System.nanoTime() - t0) / 1e9)
    out
  }

  /** Run warm-up calls on a few threads at once: they pay the JVM's
    * one-time costs (class loading, code generation, JIT), which
    * overlap well, and their own timings are not used. */
  def warmUp(calls: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(3, calls.size))
    try calls.map(c => pool.submit(new Runnable { def run(): Unit = c() })).foreach(_.get())
    finally pool.shutdown()
  }

  def median(kind: String): Double = Stats.median(samples.getOrElse(kind, Nil).toSeq)

  /** Shuffle with the run's seeded generator. */
  def shuffled[T](xs: Seq[T]): Seq[T] = new scala.util.Random(rnd).shuffle(xs)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile; NaN for no samples. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}

/** A query's output summary: row count and an order-independent digest
  * (sum of per-row xxhash64 over the columns in name order). */
final case class Digest(rows: Long, hash: BigDecimal)

object Sink {
  /** Write `df` to the `noop` sink, observing its row count and digest
    * in the same job. */
  def noop(df: DataFrame): Digest = {
    val obs = Observation()
    val cols = df.columns.sorted.map(c => col(s"`$c`"))
    df.observe(obs, count(lit(1)).as("n"),
        sum(xxhash64(cols.toIndexedSeq: _*).cast(DecimalType(38, 0))).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Digest(m("n").asInstanceOf[Long],
      Option(m("h")).map(h => BigDecimal(h.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
  }
}
