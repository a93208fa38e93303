package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{SparkContext, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed call into a layer's public function, made from the
  * benchmark's own thread. `parent` is the span open when it started. */
final class Span(val id: Long, val name: String, val parent: Option[Span],
                 val startMs: Long, val startNs: Long) {
  var endMs: Long = Long.MaxValue
  var endNs: Long = -1L
  var childNs: Long = 0L
  def wallS: Double = (endNs - startNs) / 1e9
  def selfS: Double = (endNs - startNs - childNs) / 1e9
}

/** Spark work attributed to one span (or one streaming query family). */
final class Work {
  var jobs = 0L; var tasks = 0L; var failedTasks = 0L
  var runMs = 0L; var waitMs = 0L; var gcMs = 0L
  var readB = 0L; var shuffleB = 0L; var writeB = 0L; var spillB = 0L
  def add(o: Work): Unit = {
    jobs += o.jobs; tasks += o.tasks; failedTasks += o.failedTasks
    runMs += o.runMs; waitMs += o.waitMs; gcMs += o.gcMs
    readB += o.readB; shuffleB += o.shuffleB; writeB += o.writeB; spillB += o.spillB
  }
}

/** Span recorder. Spans are always recorded (they are the benchmark's
  * timers); with tracing on, each span also tags the Spark jobs it
  * starts through a local property, and [[Tracer]] listens for them. */
object Trace {
  val SpanProp = "graftbench.span"
  private val ids = new AtomicLong
  private val stack = ThreadLocal.withInitial[List[Span]](() => Nil)
  private val closed = mutable.ArrayBuffer.empty[Span]
  @volatile private var tagged: Option[SparkContext] = None

  def tagJobs(sc: SparkContext): Unit = tagged = Some(sc)

  def span[T](name: String)(body: => T): T = {
    val s = new Span(ids.incrementAndGet(), name, stack.get.headOption,
      System.currentTimeMillis(), System.nanoTime())
    stack.set(s :: stack.get)
    val prev = tagged.map(_.getLocalProperty(SpanProp))
    tagged.foreach(_.setLocalProperty(SpanProp, s.id.toString))
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      stack.set(stack.get.tail)
      s.parent.foreach(_.childNs += s.endNs - s.startNs)
      tagged.foreach(_.setLocalProperty(SpanProp, prev.orNull))
      closed.synchronized(closed += s)
    }
  }

  def spans: Seq[Span] = closed.synchronized(closed.toList)
}

/** SparkListener + StreamingQueryListener that attribute jobs, tasks
  * and bytes to spans. A job goes to the span named by its local
  * property when that span was open at the job's start; otherwise
  * (jobs from program-owned pools, whose threads keep whatever
  * property they inherited when created) to the innermost span open
  * at that time. Streaming jobs go to their query through the
  * `sql.streaming.queryId` property. */
final class Tracer extends SparkListener {
  private case class Job(time: Long, span: Option[Long], query: Option[String], stages: Seq[Int])
  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stages = new ConcurrentHashMap[Int, Work]()
  val queryNames = new ConcurrentHashMap[String, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    jobs.put(e.jobId, Job(e.time, prop(Trace.SpanProp).map(_.toLong),
      prop("sql.streaming.queryId"), e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val w = stages.computeIfAbsent(e.stageId, _ => new Work)
    val m = Option(e.taskMetrics)
    w.synchronized {
      w.tasks += 1
      if (e.reason != Success) w.failedTasks += 1
      m.foreach { t =>
        val info = e.taskInfo
        w.runMs += t.executorRunTime
        w.gcMs += t.jvmGCTime
        w.waitMs += math.max(0L, info.duration - t.executorRunTime -
          t.executorDeserializeTime - t.resultSerializationTime - info.gettingResultTime)
        w.readB += t.inputMetrics.bytesRead
        w.shuffleB += t.shuffleWriteMetrics.bytesWritten
        w.writeB += t.outputMetrics.bytesWritten
        w.spillB += t.diskBytesSpilled
      }
    }
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      queryNames.put(e.id.toString, Option(e.name).getOrElse("unnamed"))
    override def onQueryProgress(e: QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  /** Work per span id and per streaming query name, plus all work, of
    * the jobs started inside `window` (epoch ms). */
  def attribute(spans: Seq[Span], window: (Long, Long)): (Map[Long, Work], Map[String, Work], Work) = {
    val bySpan = mutable.Map.empty[Long, Work]
    val byQuery = mutable.Map.empty[String, Work]
    val all = new Work
    val byId = spans.map(s => s.id -> s).toMap
    def openAt(t: Long): Option[Span] =
      spans.filter(s => s.startMs <= t && t <= s.endMs).sortBy(_.startMs).lastOption
    def add(j: Job, w: Work): Unit = {
      all.add(w)
      j.query match {
        case Some(q) =>
          byQuery.getOrElseUpdate(queryNames.getOrDefault(q, q), new Work).add(w)
        case None =>
          val s = j.span.flatMap(byId.get).filter(s => s.startMs <= j.time && j.time <= s.endMs)
            .orElse(openAt(j.time))
          s.foreach(x => bySpan.getOrElseUpdate(x.id, new Work).add(w))
      }
    }
    // a stage skipped by a later job (its shuffle output reused) is
    // listed by both jobs; its tasks belong to the first
    val claimed = mutable.Set.empty[Int]
    jobs.asScala.toSeq.sortBy(_._1).foreach { case (_, j) =>
      val w = new Work
      w.jobs = 1
      j.stages.filter(claimed.add).flatMap(id => Option(stages.get(id))).foreach(w.add)
      if (j.time >= window._1 && j.time <= window._2) add(j, w)
    }
    (bySpan.toMap, byQuery.toMap, all)
  }
}
