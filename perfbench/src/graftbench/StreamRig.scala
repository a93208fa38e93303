package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}

import graft.streaming.Events

object StreamRig {
  /** One micro-batch as the query reported it. */
  final case class Batch(query: String, id: Long, endMs: Long, durMs: Long, rows: Long)
  /** One generated file: its type, name, the time it was due and written. */
  final case class Drop(etype: String, name: String, dueMs: Long, writtenMs: Long)
}

/** The reference's streaming topology ([[Events.multiTopicFlow]]: 4
  * bronze parquet sinks, 2 serving-KV sinks, 2 rerank sinks) running
  * continuously on a processing-time trigger over file sources, fed by
  * a single-thread generator in StreamBench's 60/20/15/5 event mix.
  * Files are written under a hidden name and renamed into place, so the
  * file source only ever lists whole files. */
final class StreamRig(spark: SparkSession, root: String, rnd: java.util.Random,
                      nUsers: Long, nParts: Long, triggerMs: Long) {
  import StreamRig._
  val Mix = Seq("page_view" -> 60, "add_to_cart" -> 20, "purchase" -> 15, "review" -> 5)

  val batches = new ConcurrentLinkedQueue[Batch]()
  val failures = new ConcurrentLinkedQueue[String]()
  private val rows = new ConcurrentHashMap[String, java.lang.Long]()
  private val lastEnd = new ConcurrentHashMap[String, java.lang.Long]()
  private val generated = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val kvKeys = mutable.Set.empty[String]
  private var queries: Seq[StreamingQuery] = Nil
  private var fileSeq = 0L
  private var orderSeq = 0L

  private val listener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val dur = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      val end = java.time.Instant.parse(p.timestamp).toEpochMilli + dur
      batches.add(Batch(p.name, p.batchId, end, dur, p.numInputRows))
      rows.merge(p.name, p.numInputRows, (a, b) => a + b)
      lastEnd.merge(p.name, end, (a, b) => math.max(a, b))
    }
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      e.exception.foreach(x => failures.add(x.linesIterator.take(1).mkString))
  }

  private def inDir(etype: String) = Paths.get(root, "in", etype)
  private def stageDir = Paths.get(root, "stage")

  private def event(etype: String): String = {
    val u = s"u${(rnd.nextDouble() * nUsers).toLong}"
    val p = s"p${(rnd.nextDouble() * nParts).toLong}"
    val q = 1 + rnd.nextInt(5)
    val ts = "2026-08-15T12:00:00"
    etype match {
      case "page_view" => kvKeys += s"user:$u:views"
        s"""{"user_id":"$u","timestamp":"$ts","product_id":"$p"}"""
      case "add_to_cart" => kvKeys += s"user:$u:cart"
        s"""{"user_id":"$u","timestamp":"$ts","product_id":"$p","quantity":$q}"""
      case "purchase" => orderSeq += 1
        s"""{"user_id":"$u","timestamp":"$ts","order_id":"o$orderSeq","product_id":"$p","quantity":$q,"price":${rnd.nextInt(100000) / 100.0}}"""
      case "review" =>
        s"""{"user_id":"$u","timestamp":"$ts","product_id":"$p","rating":$q}"""
    }
  }

  /** Write `n` events of `etype` as one file under `dir` (hidden name,
    * then an atomic rename) and return its visible name. */
  private def writeFile(etype: String, n: Int, dir: Path, tag: String): String = {
    fileSeq += 1
    val name = f"$tag-$fileSeq%08d.json"
    val tmp = dir.resolve(s".$name")
    Files.write(tmp, (1 to n).map(_ => event(etype)).asJava)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    generated(etype) += n
    name
  }

  def start(): Unit = {
    Mix.foreach { case (t, _) => Files.createDirectories(inDir(t)) }
    spark.streams.addListener(listener)
    val sources = Mix.map { case (t, _) =>
      t -> spark.readStream.format("text").load(inDir(t).toString)
    }.toMap
    Events.InMemoryKV.clear()
    queries = Events.multiTopicFlow(sources, s"$root/out", Events.InMemoryKV,
      lit(java.sql.Date.valueOf("2026-08-15")).cast("timestamp"),
      Trigger.ProcessingTime(triggerMs))
  }

  private def targets: Map[String, Long] = Mix.flatMap { case (t, _) =>
    val n = generated(t)
    (s"bronze_$t" -> n) +: (if (Events.RealtimeTypes(t)) Seq(s"kv_$t" -> n, s"rerank_$t" -> n) else Nil)
  }.toMap

  /** Block until every sink has committed every generated event; the
    * time the last of them committed (epoch ms). */
  def awaitDrained(timeoutMs: Long = 120000L): Long = {
    val deadline = System.currentTimeMillis() + timeoutMs
    def done = targets.forall { case (q, n) => Option(rows.get(q)).exists(_ >= n) }
    while (!done) {
      if (!failures.isEmpty) throw new IllegalStateException(s"stream failed: ${failures.peek()}")
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"stream did not drain in ${timeoutMs / 1000}s")
      Thread.sleep(5)
    }
    targets.keys.map(q => lastEnd.get(q).longValue).max
  }

  /** Drop a backlog of `total` events (staged first, then renamed in
    * all at once) into the running topology; seconds until all 8 sinks
    * committed it. */
  def backlog(total: Int, filesPerType: Int): Double = {
    Files.createDirectories(stageDir)
    val staged = Mix.flatMap { case (t, pct) =>
      val n = total * pct / 100
      (0 until filesPerType).map { i =>
        val k = n / filesPerType + (if (i < n % filesPerType) 1 else 0)
        t -> writeFile(t, k, stageDir, "bk")
      }
    }
    val t0 = System.currentTimeMillis()
    staged.foreach { case (t, name) =>
      Files.move(stageDir.resolve(name), inDir(t).resolve(name), StandardCopyOption.ATOMIC_MOVE)
    }
    (awaitDrained() - t0) / 1e3
  }

  /** Open loop: every `tickMs`, write one file per event type holding
    * that tick's share of `eps`, for `seconds`; files are due on the
    * tick schedule whether or not the topology keeps up. */
  def openLoop(eps: Int, seconds: Double, tickMs: Long): Seq[Drop] = {
    val perTick = eps * tickMs / 1000
    val t0 = System.currentTimeMillis() + tickMs
    val ticks = (seconds * 1000 / tickMs).toInt
    (0 until ticks).flatMap { k =>
      val due = t0 + k * tickMs
      val wait = due - System.currentTimeMillis()
      if (wait > 0) Thread.sleep(wait)
      Mix.map { case (t, pct) =>
        val name = writeFile(t, (perTick * pct / 100).toInt, inDir(t), s"ol$due")
        Drop(t, name, due, System.currentTimeMillis())
      }
    }
  }

  /** Seconds from each open-loop file's due time to the end of the
    * bronze micro-batch that committed it, read from the file source's
    * own commit log in the bronze checkpoint. */
  def lags(drops: Seq[Drop]): Seq[(Drop, Long)] = {
    val ends = batches.asScala.map(b => (b.query, b.id) -> b.endMs).toMap
    val entry = """"path":"([^"]+)".*?"batchId":(\d+)""".r
    val committed = Mix.flatMap { case (t, _) =>
      val log = Paths.get(root, "out", "chk", t, "sources", "0")
      Files.list(log).iterator.asScala.toSeq.filterNot(_.getFileName.toString.startsWith("."))
        .flatMap(f => Files.readAllLines(f).asScala)
        .flatMap(entry.findFirstMatchIn)
        .map(m => (t, m.group(1).split('/').last) -> m.group(2).toLong)
    }.toMap
    drops.map(d => d -> ends(s"bronze_${d.etype}" -> committed((d.etype, d.name))))
  }

  def stop(): Unit = {
    queries.foreach(_.stop())
    spark.streams.removeListener(listener)
  }

  /** Output checks: bronze holds every generated event once, and the
    * serving KV holds every generated user's realtime key. */
  def checks(): Seq[(String, Boolean)] =
    Mix.map { case (t, _) =>
      val n = spark.read.parquet(s"$root/out/bronze/brz_${t}_event").count()
      s"bronze_$t rows $n == ${generated(t)}" -> (n == generated(t))
    } :+ {
      val missing = kvKeys.count(k => Events.InMemoryKV.get(k).isEmpty)
      s"serving KV holds ${kvKeys.size} generated user keys ($missing missing)" -> (missing == 0)
    }
}
