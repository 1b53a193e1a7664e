package graft.pipebench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** In-memory spans around the benchmark's calls into each layer. A span
  * has a name, start and end (epoch ms, fractional), the span that caused
  * it and the step it belongs to. Off (untraced runs, warm-up), `span`
  * only runs its body.
  */
final class Tracer(var enabled: Boolean) {
  final case class Span(id: Int, name: String, parent: Int, step: Int, start: Double, end: Double)

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  // epoch ms = nanoTime / 1e6 + offset: monotonic spans on the listeners' clock
  private val offsetMs = System.currentTimeMillis() - System.nanoTime() / 1e6

  def nowMs: Double = System.nanoTime() / 1e6 + offsetMs

  def span[A](name: String, step: Int)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val start = nowMs
      try body
      finally {
        open = open.tail
        spans += Span(id, name, parent, step, start, nowMs)
      }
    }

  /** A span measured elsewhere (a micro-batch from its progress event). */
  def record(name: String, parent: Int, step: Int, start: Double, end: Double): Unit = {
    spans += Span(nextId, name, parent, step, start, end); nextId += 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time per span name: duration minus the union of its children. */
  def selfTimes: Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map { s =>
        val covered = union(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.start, s.start), math.min(c.end, s.end))).filter(iv => iv._2 > iv._1).toSeq)
        s.end - s.start - covered
      }.sum
    }
  }

  private def union(ivs: Seq[(Double, Double)]): Double = {
    var total = 0.0; var curS = Double.NaN; var curE = Double.NaN
    ivs.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) { if (!curS.isNaN) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  def json: String = spans.map(s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"step":${s.step},""" +
      s""""start_ms":${s.start},"end_ms":${s.end}}""").mkString("[", ",\n", "]")
}

/** Spark's public event streams, collected for the traced run:
  * `StreamingQueryProgress` per micro-batch, and job/task events from a
  * `SparkListener`. Attribution to steps happens after the run, by time.
  */
final class Listeners(spark: SparkSession) {
  final case class Task(finishMs: Long, runMs: Long, shuffleBytes: Long)

  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  val jobStarts = new ConcurrentLinkedQueue[java.lang.Long]()
  val tasks = new ConcurrentLinkedQueue[Task]()

  private val queryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.add(e.progress)
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobStarts.add(e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null)
        tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten))
    }
  }

  def register(): Unit = {
    spark.streams.addListener(queryListener)
    spark.sparkContext.addSparkListener(sparkListener)
  }

  def unregister(): Unit = {
    spark.streams.removeListener(queryListener)
    spark.sparkContext.removeSparkListener(sparkListener)
  }

  /** Data-carrying micro-batches of the given queries. */
  def batches(ids: Set[java.util.UUID]): Seq[StreamingQueryProgress] =
    progress.asScala.toSeq.filter(p => ids.contains(p.id) && p.durationMs.containsKey("addBatch"))
}

object Listeners {
  def startMs(p: StreamingQueryProgress): Long = java.time.Instant.parse(p.timestamp).toEpochMilli
  def phase(p: StreamingQueryProgress, k: String): Long =
    Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
}
