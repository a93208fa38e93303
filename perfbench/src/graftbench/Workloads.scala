package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{SparkEntry, Tables}
import graft.operators.IncrementalEr
import graft.pipeline.{AtomicTable, Medallion}

/** A benchmark workload: set-up (warm-up plus the standing state the
  * timed window starts from), the timed window, and the output checks.
  * `cycle` is the wall time of one cycle of the workload's closed loop,
  * built from the medians of the operations a cycle is made of. */
trait Workload {
  def setup(r: Run): Unit
  def window(r: Run): Unit
  def verify(r: Run): Unit
  def cycle(r: Run): Double
  def close(): Unit = ()
}

object Workload {
  def apply(name: String, pins: Map[String, Digest]): Workload = name match {
    case "lakehouse_day" => new LakehouseDay(pins)
    case "graph_mining" => new GraphMining(pins)
    case "er_incremental" => new ErIncremental
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def query(name: String): (SparkSession, String) => DataFrame =
    SparkEntry.queries.getOrElse(name, throw new IllegalArgumentException(s"no query $name"))

  /** Pinned-output checks over every digest a run observed. */
  def checkPins(r: Run, seen: Map[String, Seq[Digest]], pins: Map[String, Digest]): Unit =
    seen.toSeq.sortBy(_._1).foreach { case (q, ds) =>
      val pin = pins.get(q)
      r.check(s"$q output matches its pin ${pin.getOrElse("(missing)")} on ${ds.size} calls") {
        pin.isDefined && ds.forall(_ == pin.get)
      }
    }
}

/** Passes over the graph tier: Components (q68), PageRank (q104),
  * Triangles (q177), Bfs (q190), Sssp (q206) and KCore (q217). */
final class GraphMining(pins: Map[String, Digest]) extends Workload {
  val Queries = Seq("q68_dedup_components", "q104_doc_pagerank", "q177_triangle_count",
    "q190_bfs_hops", "q206_weighted_sssp", "q217_kcore_parts")
  private val seen = scala.collection.mutable.Map.empty[String, Seq[Digest]].withDefaultValue(Nil)

  def spanOf(q: String): String = s"operators.graph.${q.takeWhile(_ != '_')}"

  def setup(r: Run): Unit = r.timed("warm") {
    r.warmUp(Queries.map(q => () => { Sink.noop(Workload.query(q)(r.spark, r.warm)); () }))
  }

  def window(r: Run): Unit = {
    val passes = math.max(1, r.seconds / 20)
    (1 to passes).foreach { _ =>
      val t0 = System.nanoTime()
      r.shuffled(Queries).foreach { q =>
        r.op(q, spanOf(q))(Sink.noop(Workload.query(q)(r.spark, r.data)))
          .foreach(d => seen(q) = seen(q) :+ d)
      }
      r.record("pass", (System.nanoTime() - t0) / 1e9)
      r.spark.catalog.clearCache()
      System.gc()
    }
    r.named("graph_pass_s") = (r.median("pass"), "s")
  }

  def verify(r: Run): Unit = Workload.checkPins(r, seen.toMap, pins)

  def cycle(r: Run): Double = Queries.map(r.median).sum
}

/** The reference's day: the streaming topology ingests a fixed backlog
  * and then an open-loop stream; the medallion DAG runs incrementally
  * over orders/lineitem/part; the reporting set (q01-q14) is refreshed. */
final class LakehouseDay(pins: Map[String, Digest]) extends Workload {
  val Reports: Seq[String] = SparkEntry.queries.keys.filter(_.matches("q(0[1-9]|1[0-4])_.*")).toSeq.sorted
  val Backlog = 30000
  val OpenLoopEps = 20000
  val TriggerMs = 200L
  // orders span 2404 days from 1995-01-01; the backfill loads the first
  // 1600 and each incremental run advances the high-water mark 100 days
  val BackfillDays = 1600
  val SliceDays = 100
  private val seen = scala.collection.mutable.Map.empty[String, Seq[Digest]].withDefaultValue(Nil)
  private var rig: StreamRig = _
  private var cutoffDay = BackfillDays

  private def dir(r: Run, name: String) = s"${r.work}/lake/$name"

  private def cutoff(day: Int) =
    lit(java.time.LocalDate.of(1995, 1, 1).plusDays(day.toLong).atStartOfDay())

  /** One bronze → silver → gold run over the orders below `day`. */
  private def dag(r: Run, data: String, root: String, day: Int): Unit = {
    val s = r.spark
    val source = Tables.orders(s, data)
      .filter(col("o_orderdate") < cutoff(day))
    Trace.span("pipeline.bronze_load") {
      Medallion.bronzeIncrementalLoad(s, source, s"$root/bronze_orders", "o_orderdate",
        java.sql.Date.valueOf("1998-12-01"), Seq("year", "month"))
    }
    Trace.span("pipeline.silver") {
      val items = Tables.lineitem(s, data).withColumnRenamed("l_orderkey", "o_orderkey")
      AtomicTable.replace(Medallion.silverPurchaseFact(s.read.parquet(s"$root/bronze_orders"),
        items, "o_orderkey", "l_quantity", "l_extendedprice"), s"$root/silver_purchases")
    }
    Trace.span("pipeline.gold") {
      val dim = Tables.part(s, data).select(col("p_partkey").as("l_partkey"), col("p_brand"))
      AtomicTable.replace(Medallion.goldSalesSummary(AtomicTable.read(s, s"$root/silver_purchases"),
          dim, "l_partkey", "o_orderdate", "l_quantity", "l_extendedprice", Seq("p_brand")),
        s"$root/gold_sales", mergeSchema = true, partitionCols = Seq("year"))
    }
  }

  private def report(r: Run, data: String, q: String): Digest = {
    val t0 = System.nanoTime()
    val df = Workload.query(q)(r.spark, data)
    val t1 = System.nanoTime()
    val d = Sink.noop(df)
    r.record("report.build", (t1 - t0) / 1e9)
    r.record("report.sink", (System.nanoTime() - t1) / 1e9)
    d
  }

  def setup(r: Run): Unit = {
    r.timed("warm") {
      r.warmUp(Reports.map(q => () => { Sink.noop(Workload.query(q)(r.spark, r.warm)); () }))
    }
    // the backfill is also the DAG's warm-up
    r.timed("backfill")(dag(r, r.data, dir(r, "dag"), BackfillDays))
    // the first backlog of the window is the topology's warm-up: it
    // drops out of the drain median
    r.timed("topology") {
      val custs = Tables.customer(r.spark, r.data).count()
      val parts = Tables.part(r.spark, r.data).count()
      rig = new StreamRig(r.spark, dir(r, "stream"), r.rnd, custs, parts, TriggerMs)
      rig.start()
    }
  }

  def window(r: Run): Unit = {
    // stream phase: a fixed backlog into the running topology, then an
    // open loop at a fixed rate
    (1 to 3).foreach(_ => r.op("stream.backlog", "streaming.backlog")(rig.backlog(Backlog, 4)))
    val drops = rig.openLoop(OpenLoopEps, math.max(3.0, r.seconds * 0.15), 50L)
    rig.awaitDrained()
    val lagged = rig.lags(drops)
    val lags = lagged.map { case (d, end) => (end - d.dueMs) / 1e3 }
    // backlog: files written but not yet committed by bronze, at its peak
    val edges = lagged.flatMap { case (d, end) => Seq(d.writtenMs -> 1, end -> -1) }
      .sortBy(e => (e._1, e._2))
    r.layer("sources.backlog_files_max") = edges.scanLeft(0)(_ + _._2).max.toDouble
    r.layer("gen.late_max_s") = drops.map(d => (d.writtenMs - d.dueMs) / 1e3).max
    // DAG phase: incremental runs, each advancing the high-water mark
    (1 to math.max(2, r.seconds / 10)).foreach { _ =>
      cutoffDay += SliceDays
      r.op("dag", "pipeline.dag")(dag(r, r.data, dir(r, "dag"), cutoffDay))
    }
    // reporting phase
    (1 to math.max(1, r.seconds / 20)).foreach { _ =>
      val t0 = System.nanoTime()
      r.shuffled(Reports).foreach { q =>
        r.op(q, "queries.report")(report(r, r.data, q)).foreach(d => seen(q) = seen(q) :+ d)
      }
      r.record("report", (System.nanoTime() - t0) / 1e9)
    }
    r.named("stream_eps") = (Backlog / r.median("stream.backlog"), "events/s")
    r.named("stream_lag_p50_s") = (Stats.quantile(lags, 0.5), "s")
    r.named("stream_lag_p90_s") = (Stats.quantile(lags, 0.9), "s")
    r.named("dag_s") = (r.median("dag"), "s")
    r.named("report_refresh_s") = (r.median("report"), "s")
  }

  def verify(r: Run): Unit = {
    val failures = rig.failures
    r.check(s"streaming queries running without exception (${failures.size} failed)")(failures.isEmpty)
    rig.checks().foreach { case (desc, ok) => r.check(desc)(ok) }
    val s = r.spark
    val loaded = Tables.orders(s, r.data)
      .filter(col("o_orderdate") < cutoff(cutoffDay))
    val bronze = s.read.parquet(s"${dir(r, "dag")}/bronze_orders").count()
    val expect = loaded.count()
    r.check(s"bronze orders $bronze == source orders below the high-water mark $expect")(bronze == expect)
    val fact = loaded.join(Tables.lineitem(s, r.data), col("o_orderkey") === col("l_orderkey"))
      .filter(col("l_quantity") > 0 && col("l_extendedprice") > 0)
      .agg(count(lit(1)), graft.Cols.dsum(col("l_quantity"))).head()
    val gold = AtomicTable.read(s, s"${dir(r, "dag")}/gold_sales")
      .agg(sum("num_purchases"), sum(col("total_quantity").cast("decimal(18,2)")).cast("double")).head()
    r.check(s"gold totals ${gold.get(0)}/${gold.get(1)} == purchase fact ${fact.get(0)}/${fact.get(1)}") {
      gold.getLong(0) == fact.getLong(0) && gold.getDouble(1) == fact.getDouble(1)
    }
    Workload.checkPins(r, seen.toMap, pins)
  }

  def cycle(r: Run): Double =
    r.median("stream.backlog") + r.median("dag") + r.median("report")

  override def close(): Unit = if (rig != null) rig.stop()

  def streamRig: Option[StreamRig] = Option(rig)
}

/** Incremental entity resolution on a standing artifact built from
  * every customer: seeded ~200-row arrival triggers (half one-character
  * variants of live names in the same nation block, half fresh names),
  * a serving read after each fold, a forget of ~15 live ids every
  * second fold, and one compaction partway through. */
final class ErIncremental extends Workload {
  val TriggerRows = 200
  val ForgetRows = 15
  private var erDir: String = _
  private var nextKey = 0L
  private var nextBatch = 1L
  private val live = scala.collection.mutable.LinkedHashMap.empty[Long, (String, Int)]

  private def customers(r: Run, data: String): DataFrame =
    Tables.customer(r.spark, data).select(col("c_custkey"), col("c_name"), col("c_nationkey"))

  private def trigger(r: Run): Seq[(Long, String, Int)] = {
    val keys = live.keys.toIndexedSeq
    val chars = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789#"
    (1 to TriggerRows).map { i =>
      nextKey += 1
      if (i % 2 == 0) {
        val (name, nation) = live(keys(r.rnd.nextInt(keys.size)))
        val pos = r.rnd.nextInt(name.length)
        (nextKey, name.updated(pos, chars(r.rnd.nextInt(chars.length))), nation)
      } else (nextKey, f"Client#${r.rnd.nextInt(1000000000)}%09d", r.rnd.nextInt(25))
    }
  }

  private def fold(r: Run): Unit = {
    val rows = trigger(r)
    val id = nextBatch; nextBatch += 1
    import r.spark.implicits._
    val df = rows.toDF("c_custkey", "c_name", "c_nationkey")
    r.op("er.fold", "operators.er.fold")(IncrementalEr.maintainBatch(erDir)(df, id))
      .foreach(_ => rows.foreach { case (k, n, b) => live(k) = (n, b) })
  }

  private def forget(r: Run): Unit = {
    val keys = live.keys.toIndexedSeq
    val ids = r.shuffled(keys).take(ForgetRows)
    val id = nextBatch; nextBatch += 1
    import r.spark.implicits._
    r.op("er.forget", "operators.er.forget")(
        IncrementalEr.forget(r.spark, erDir, ids.toDF("c_custkey"), id))
      .foreach(_ => ids.foreach(live.remove))
  }

  private def serve(r: Run): Unit =
    r.op("er.serve", "operators.er.serve")(Sink.noop(IncrementalEr.resolved(r.spark, erDir)))

  /** The standing artifact, every customer in one batch, is also the
    * warm-up: the first, colder fold of the window drops out of the
    * fold median, and the forget and compaction run once each. */
  def setup(r: Run): Unit = r.timed("standing") {
    erDir = s"${r.work}/er"
    val standing = customers(r, r.data)
    IncrementalEr.maintainBatch(erDir)(standing, 0L)
    standing.collect().foreach(row =>
      live(row.getLong(0)) = (row.getString(1), row.getInt(2)))
    nextKey = live.keys.max + 1000000L
  }

  def window(r: Run): Unit = {
    val folds = math.max(3, r.seconds / 6)
    (1 to folds).foreach { i =>
      fold(r)
      serve(r)
      if (i % 2 == 0) forget(r)
      if (i == (folds + 1) / 2) {
        val id = nextBatch; nextBatch += 1
        r.op("er.compact", "operators.er.compact")(IncrementalEr.compact(r.spark, erDir, id))
      }
    }
    r.named("er_fold_p50_s") = (r.median("er.fold"), "s")
    r.named("er_forget_p50_s") = (r.median("er.forget"), "s")
    r.named("er_serve_p50_s") = (r.median("er.serve"), "s")
  }

  /** The served assignment must equal a one-shot resolution (q228's
    * algebra) of the surviving records. */
  def verify(r: Run): Unit = {
    import r.spark.implicits._
    val oneShotDir = s"${r.work}/er_oneshot"
    live.toSeq.map { case (k, (n, b)) => (k, n, b) }.toDF("c_custkey", "c_name", "c_nationkey")
      .write.mode("overwrite").parquet(s"$oneShotDir/customer.parquet")
    val expect = Workload.query("q228_entity_resolution")(r.spark, oneShotDir)
      .select("c_custkey", "canonical_id", "cluster_size")
    val got = IncrementalEr.resolved(r.spark, erDir).select("c_custkey", "canonical_id", "cluster_size")
    val (extra, missing) = (got.exceptAll(expect).count(), expect.exceptAll(got).count())
    r.check(s"final resolved() == one-shot q228 over ${live.size} surviving records " +
      s"($extra extra, $missing missing rows)")(extra == 0 && missing == 0)
  }

  def cycle(r: Run): Double = {
    val folds = r.samples.get("er.fold").map(_.size).getOrElse(1).toDouble
    val per = (k: String) => r.samples.get(k).map(_.size).getOrElse(0) / folds
    r.median("er.fold") + r.median("er.serve") + per("er.forget") * r.median("er.forget") +
      per("er.compact") * r.median("er.compact")
  }
}
