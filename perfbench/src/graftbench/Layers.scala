package graftbench

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, derived from the spans recorded
  * in the timed window and the Spark work [[Tracer]] attributed to
  * them. Every metric is always emitted (0 where a workload does not
  * reach the layer), in the order `BENCHMARK.json` lists them. */
object Layers {
  private val MB = 1024.0 * 1024.0
  private type M = (String, (Double, String))

  def metrics(r: Run, w: Workload, work: (Map[Long, Work], Map[String, Work], Work),
              window: (Long, Long)): Seq[M] = {
    val (bySpan, byQuery, all) = work
    val inWindow = Trace.spans.filter(s => s.startMs >= window._1 && s.endMs <= window._2)
    def calls(name: String) = inWindow.filter(_.name == name).map(s => s -> bySpan.getOrElse(s.id, new Work))
    def med(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else Stats.median(xs)
    def busy(cs: Seq[(Span, Work)]) = {
      val wall = cs.map(_._1.wallS).sum
      if (wall == 0) 0.0 else cs.map(_._2.runMs).sum / 1e3 / (wall * r.cores)
    }
    def field(name: String, f: String): M = {
      val cs = calls(name)
      val v = f match {
        case "s" => med(cs.map(_._1.selfS))
        case "jobs" => med(cs.map(_._2.jobs.toDouble))
        case "tasks" => med(cs.map(_._2.tasks.toDouble))
        case "busy" => busy(cs)
        case "wait_s" => med(cs.map(_._2.waitMs / 1e3))
        case "read_mb" => med(cs.map(_._2.readB / MB))
        case "shuffle_mb" => med(cs.map(_._2.shuffleB / MB))
        case "write_mb" => med(cs.map(_._2.writeB / MB))
      }
      s"$name.$f" -> (v, unit(f))
    }
    val full = Seq("s", "jobs", "tasks", "busy", "wait_s", "read_mb", "shuffle_mb", "write_mb")
    val small = Seq("s", "jobs", "read_mb", "write_mb")

    val pipeline = Seq("bronze_load", "silver", "gold").flatMap(p => full.map(field(s"pipeline.$p", _)))
    val report = full.map(field("queries.report", _)) ++ Seq(
      "queries.report.build_s" -> (med(r.samples.getOrElse("report.build", Nil).toSeq), "s"),
      "queries.report.sink_s" -> (med(r.samples.getOrElse("report.sink", Nil).toSeq), "s"))
    val graphNames = new GraphMining(Map.empty).Queries.map(q => s"operators.graph.${q.takeWhile(_ != '_')}")
    val graphCalls = graphNames.flatMap(calls)
    val passes = math.max(1, r.samples.get("pass").map(_.size).getOrElse(1))
    val graph = graphNames.flatMap(g => Seq("s", "jobs", "shuffle_mb", "write_mb").map(field(g, _))) ++ Seq(
      "operators.graph.busy" -> (busy(graphCalls), "ratio"),
      "operators.graph.tasks" -> (graphCalls.map(_._2.tasks).sum.toDouble / passes, "count"),
      "operators.graph.wait_s" -> (graphCalls.map(_._2.waitMs).sum / 1e3 / passes, "s"))
    val er = Seq("fold", "forget").flatMap(o => full.map(field(s"operators.er.$o", _))) ++
      Seq("serve", "compact").flatMap(o => small.map(field(s"operators.er.$o", _)))

    val rig = w match { case l: LakehouseDay => l.streamRig; case _ => None }
    val batches = rig.toSeq.flatMap(_.batches.asScala)
      .filter(b => b.endMs >= window._1 && b.endMs <= window._2)
    val streaming = Seq("bronze", "kv", "rerank").flatMap { fam =>
      val bs = batches.filter(_.query.startsWith(fam + "_"))
      val qs = byQuery.filter(_._1.startsWith(fam + "_")).values
      Seq(
        s"streaming.$fam.busy_s" -> (bs.map(_.durMs).sum / 1e3, "s"),
        s"streaming.$fam.batches" -> (bs.size.toDouble, "count"),
        s"streaming.$fam.batch_p50_ms" -> (med(bs.filter(_.rows > 0).map(_.durMs.toDouble)), "ms"),
        s"streaming.$fam.rows" -> (bs.map(_.rows).sum.toDouble, "count"),
        s"streaming.$fam.jobs" -> (qs.map(_.jobs).sum.toDouble, "count"),
        s"streaming.$fam.write_mb" -> (qs.map(_.writeB).sum / MB, "MB"))
    }
    val counters = Seq(
      "sources.backlog_files_max" -> (r.layer.getOrElse("sources.backlog_files_max", 0.0), "count"),
      "streaming.useful_batch_ratio" -> (
        if (batches.isEmpty) 0.0 else batches.count(_.rows > 0).toDouble / batches.size, "ratio"),
      "gen.late_max_s" -> (r.layer.getOrElse("gen.late_max_s", 0.0), "s"),
      "pipeline.tempdirs.scratch_mb" -> (du(new java.io.File(System.getProperty("java.io.tmpdir"))) / MB, "MB"),
      "spark.gc_s" -> (all.gcMs / 1e3, "s"),
      "spark.spill_mb" -> (all.spillB / MB, "MB"),
      "spark.failed_tasks" -> (all.failedTasks.toDouble, "count"))
    val named = Seq("stream_eps", "stream_lag_p50_s", "stream_lag_p90_s", "dag_s", "report_refresh_s",
      "graph_pass_s", "er_fold_p50_s", "er_forget_p50_s", "er_serve_p50_s", "error_rate").map { k =>
      val (v, u) = r.named.getOrElse(k, (0.0, if (k == "stream_eps") "events/s" else if (k == "error_rate") "ratio" else "s"))
      s"workload.$k" -> (if (v.isNaN) 0.0 else v, u)
    }
    pipeline ++ report ++ graph ++ er ++ streaming ++ counters ++ named
  }

  private def unit(f: String): String = f match {
    case "s" | "wait_s" => "s"
    case "jobs" | "tasks" => "count"
    case "busy" => "ratio"
    case _ => "MB"
  }

  private def du(f: java.io.File): Long =
    if (f.isFile) f.length else Option(f.listFiles).map(_.map(du).sum).getOrElse(0L)

  /** Every recorded span, with its attributed work when traced. */
  def spansJson(bySpan: Map[Long, Work]): String =
    Trace.spans.sortBy(_.startNs).map { s =>
      val base = Seq(
        "\"name\":" + Json.str(s.name), "\"id\":" + s.id,
        "\"parent\":" + s.parent.map(_.id.toString).getOrElse("null"),
        "\"start_ms\":" + s.startMs, "\"end_ms\":" + s.endMs,
        "\"wall_s\":" + Json.num(s.wallS), "\"self_s\":" + Json.num(s.selfS))
      val work = bySpan.get(s.id).toSeq.flatMap(w => Seq(
        "\"jobs\":" + w.jobs, "\"tasks\":" + w.tasks, "\"run_s\":" + Json.num(w.runMs / 1e3),
        "\"wait_s\":" + Json.num(w.waitMs / 1e3), "\"read_mb\":" + Json.num(w.readB / MB),
        "\"shuffle_mb\":" + Json.num(w.shuffleB / MB), "\"write_mb\":" + Json.num(w.writeB / MB)))
      (base ++ work).mkString("{", ",", "}")
    }.mkString("[\n", ",\n", "\n]")
}
