package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Span tracer for traced runs. The benchmark opens a span around each call
  * it makes into the program; a span tags the jobs its thread submits with
  * a local property, and this listener sums the task metrics of each span.
  *
  * Jobs submitted from threads that existed before the span opened (the
  * global execution context behind `Materialize.awaitBoth`) carry no tag
  * or a stale one. Spans never run
  * concurrently, so such a job belongs to the innermost span that was open
  * when it started; attribution is done after the run, from the span
  * intervals and the job start times. */
final class Tracer(spark: SparkSession) extends SparkListener {
  import Tracer._

  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val tasks = new ConcurrentLinkedQueue[Task]()
  private var attached = false

  def attach(): Unit = if (!attached) { sc.addSparkListener(this); attached = true }
  def detach(): Unit = if (attached) { drain(); sc.removeSparkListener(this); attached = false }
  private def drain(): Unit = org.apache.spark.perfbenchshim.ListenerBusShim.drain(sc)

  /** Run `body` inside span `name`. */
  def span[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, stack.headOption.map(_.id), stack.size,
      System.currentTimeMillis())
    spans += s
    stack = s :: stack
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, s.id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      s.wallNs = System.nanoTime() - t0
      s.endMs = System.currentTimeMillis()
      sc.setLocalProperty(Key, prev)
      stack = stack.tail
    }
  }

  /** Record the rows the innermost open span produced. */
  def rows(n: Long): Unit = stack.head.rows = Some(n)

  /** Wall seconds of the top-level spans opened at or after `from`. */
  def topLevelWallS(from: Int): Double =
    spans.drop(from).filter(_.depth == 0).map(_.wallNs).sum / 1e9

  def spanCount: Int = spans.size

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
      .flatMap(_.toIntOption)
    jobs.add(Job(e.jobId, e.time, tag, e.stageIds))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.stageId, e.taskInfo.duration, m.executorCpuTime,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled + m.memoryBytesSpilled,
      m.outputMetrics.recordsWritten))
  }

  /** Per span name: the mean over its instances of wall_s, cpu_s,
    * shuffle_write_bytes, spill_bytes, rows_out and task_skew. Metrics are
    * inclusive: a span counts the tasks of the spans nested in it. Also
    * returns how many jobs fell back to interval attribution. */
  def report(): (Map[String, Map[String, Double]], Int) = {
    drain()
    val closed = spans.toVector
    def contains(s: Span, t: Long) = s.startMs <= t && t <= s.endMs
    var fallback = 0
    val stageSpan = mutable.HashMap.empty[Int, Int]
    jobs.asScala.foreach { j =>
      val tagged = j.tag.filter(i => i < closed.size && contains(closed(i), j.time))
      val owner = tagged.orElse {
        val open = closed.filter(contains(_, j.time))
        if (open.isEmpty) None else { fallback += 1; Some(open.maxBy(_.depth).id) }
      }
      // the first job to reference a stage is the one that runs its tasks
      owner.foreach(o => j.stageIds.foreach(st => stageSpan.getOrElseUpdate(st, o)))
    }
    // inclusive: each task counts for its span and every enclosing span
    val perSpan = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Task]]
    tasks.asScala.foreach { t =>
      var cur = stageSpan.get(t.stageId)
      while (cur.isDefined) {
        perSpan.getOrElseUpdate(cur.get, mutable.ArrayBuffer.empty) += t
        cur = closed(cur.get).parent
      }
    }
    val byName = closed.groupBy(_.name).map { case (name, insts) =>
      val stats = insts.map { s =>
        val ts = perSpan.getOrElse(s.id, mutable.ArrayBuffer.empty[Task])
        Map(
          "wall_s" -> s.wallNs / 1e9,
          "cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
          "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
          "spill_bytes" -> ts.map(_.spill).sum.toDouble,
          "rows_out" -> s.rows.getOrElse(ts.map(_.recordsWritten).sum).toDouble,
          "task_skew" -> skew(ts))
      }
      name -> stats.head.keys.map(k => k -> stats.map(_(k)).sum / stats.size).toMap
    }
    (byName, fallback)
  }
}

object Tracer {
  val Key = "perfbench.span"

  private final case class Span(id: Int, name: String, parent: Option[Int], depth: Int,
      startMs: Long) {
    var endMs: Long = Long.MaxValue
    var wallNs: Long = 0L
    var rows: Option[Long] = None
  }
  private final case class Job(id: Int, time: Long, tag: Option[Int], stageIds: Seq[Int])
  private final case class Task(stageId: Int, durationMs: Long, cpuNs: Long,
      shuffleWrite: Long, spill: Long, recordsWritten: Long)

  /** Max over median task time in the stage that took the most task time. */
  private def skew(ts: Iterable[Task]): Double =
    if (ts.isEmpty) 1.0
    else {
      val heaviest = ts.groupBy(_.stageId).values.maxBy(_.map(_.durationMs).sum)
      val d = heaviest.map(t => math.max(t.durationMs, 1L)).toVector.sorted
      d.last.toDouble / d(d.size / 2)
    }
}
