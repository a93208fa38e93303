package graftbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark program. `perfbench/run.py` builds it and drives it:
  *
  *  - `gen <dir> <sf>`: write the generated tables at scale `sf`;
  *  - `pins <data> <out>`: write each pinned query's output as parquet
  *    plus its digest and oracle SQL, for `perfbench/pins.py`;
  *  - `run --workload W --seed N --seconds S --trace 0|1 --data D
  *    --warm D --work D --pins F --out F --spans F`: one run of a
  *    workload, written as JSON to `--out`.
  */
object Main {
  def session(): SparkSession = {
    val s = graft.Sessions.local(Runtime.getRuntime.availableProcessors.toString)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("gen") =>
      val spark = session()
      DataGen.generate(spark, args(1), args(2).toDouble)
      spark.stop()
    case Some("pins") =>
      val spark = session()
      pins(spark, args(1), args(2))
      spark.stop()
    case Some("run") =>
      val opt = args.drop(1).grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
      run(opt)
    case _ =>
      System.err.println("usage: Main gen|pins|run ...")
      sys.exit(2)
  }

  def pinnedQueries: Seq[String] =
    (new GraphMining(Map.empty).Queries ++ new LakehouseDay(Map.empty).Reports).sorted

  def readPins(path: String): Map[String, Digest] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File(path))
    root.get("queries").properties.asScala.map { e =>
      e.getKey -> Digest(e.getValue.get("rows").asLong, BigDecimal(e.getValue.get("digest").asText))
    }.toMap
  }

  private def pins(spark: SparkSession, data: String, out: String): Unit = {
    val digests = pinnedQueries.map { q =>
      val fn = Workload.query(q)
      fn(spark, data).write.mode("overwrite").parquet(s"$out/$q")
      val d = Sink.noop(fn(spark, data))
      s""""$q":{"rows":${d.rows},"digest":"${d.hash}"}"""
    }
    Files.writeString(Paths.get(out, "digests.json"), digests.mkString("{", ",", "}"))
    val sql = pinnedQueries.map(q => Json.str(q) + ":" + Json.str(graft.SparkEntry.oracleSql(q)))
    Files.writeString(Paths.get(out, "oracle_sql.json"), sql.mkString("{", ",", "}"))
  }

  private def run(opt: Map[String, String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val trace = opt("trace") == "1"
    val spark = session()
    val tracer = new Tracer
    if (trace) {
      spark.sparkContext.addSparkListener(tracer)
      spark.streams.addListener(tracer.streamListener)
      Trace.tagJobs(spark.sparkContext)
    }
    val r = new Run(spark, opt("seed").toLong, opt("seconds").toInt,
      opt("data"), opt("warm"), opt("work"))
    r.record("setup.session", (System.currentTimeMillis() - jvmStart) / 1e3)
    val w = Workload(opt("workload"), readPins(opt("pins")))
    var windowMs = (0L, 0L)
    try {
      w.setup(r)
      System.gc()
      val setupS = (System.currentTimeMillis() - jvmStart) / 1e3
      val t0 = System.currentTimeMillis()
      w.window(r)
      windowMs = (t0, System.currentTimeMillis())
      w.verify(r)
      val e2e = Seq(
        "setup_s" -> (setupS, "s"),
        "cycle_s" -> (w.cycle(r), "s"),
        "peak_rss_mb" -> (peakRssMb, "MB"))
      r.named("error_rate") = (r.failed.toDouble / r.attempted, "ratio")
      val work = if (!trace) (Map.empty[Long, Work], Map.empty[String, Work], new Work) else {
        org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
        tracer.attribute(Trace.spans, windowMs)
      }
      val layers = if (trace) Layers.metrics(r, w, work, windowMs) else Nil
      val json = Seq(
        "\"correct\":" + (r.failed == 0),
        "\"attempted\":" + r.attempted,
        "\"failed\":" + r.failed,
        "\"e2e\":" + Json.metrics(e2e),
        "\"layers\":" + Json.metrics(layers),
        "\"named\":" + Json.metrics(r.named.toSeq),
        "\"samples\":" + r.samples.map { case (k, v) =>
          Json.str(k) + ":" + v.map(Json.num).mkString("[", ",", "]") }.mkString("{", ",", "}"),
        "\"checks\":" + r.checks.map { case (d, ok) =>
          s"""{"check":${Json.str(d)},"ok":$ok}""" }.mkString("[", ",", "]"),
        "\"spark_master\":" + Json.str(spark.sparkContext.master),
        "\"window_s\":" + Json.num((windowMs._2 - windowMs._1) / 1e3))
      Files.writeString(Paths.get(opt("out")), json.mkString("{", ",", "}"))
      Files.writeString(Paths.get(opt("spans")), Layers.spansJson(work._1))
    } finally {
      w.close()
      spark.stop()
    }
  }

  /** Peak resident memory of this JVM (VmHWM), in MB. */
  def peakRssMb: Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => ""
      case '\t' => "\\t"; case c if c < ' ' => ""; case c => c.toString
    } + "\""
  def num(x: Double): String = if (x.isNaN || x.isInfinite) "null" else x.toString
  def metrics(ms: Seq[(String, (Double, String))]): String =
    ms.map { case (k, (v, u)) => s"${str(k)}:{\"value\":${num(v)},\"unit\":${str(u)}}" }
      .mkString("{", ",", "}")
}
