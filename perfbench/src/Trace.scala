package graft.perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer: name, start, end, parent, plus the filesystem
  * counters at both ends (the tracer turns them into self counts).
  */
final class Span(val id: Int, val name: String, val parent: Int) {
  val startNs: Long = System.nanoTime()
  val startMs: Long = System.currentTimeMillis()
  val fsStart: Map[String, Long] = FsCounters.snapshot()
  var endNs: Long = 0L
  var endMs: Long = 0L
  var fsEnd: Map[String, Long] = Map.empty
  /** Counts the caller knows at this boundary (rows decided, objects). */
  val notes: mutable.LinkedHashMap[String, Long] = mutable.LinkedHashMap.empty
}

/** A job's group and run interval, from scheduler events. */
private final class JobRec(val group: String, val startMs: Long) {
  var endMs: Long = startMs
}

/** Work of one stage's tasks, from scheduler events. */
private final class StageAgg {
  var tasks = 0L
  var runMs = 0L
  var shuffleRead = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var gcMs = 0L
}

/** Records spans in memory and counts Spark and stream work per span.
  *
  * Every span sets a Spark job group of its own for its duration, so a job
  * submitted from the driver thread is attributed to the innermost open
  * span exactly. Streaming queries run their jobs under the query's own
  * group on the stream thread; those are attributed to the innermost span
  * open when the job was submitted (the driver thread blocks in that span
  * until the stream is drained).
  */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val GroupPrefix = "perfbench-span-"
  private val JobGroupKey = "spark.jobGroup.id"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private val lock = new Object // guards jobs, stageJob and stages
  private val progress =
    mutable.ArrayBuffer.empty[StreamingQueryListener.QueryProgressEvent]

  sc.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty(JobGroupKey)))
        .getOrElse("")
      jobs(e.jobId) = new JobRec(group, e.time)
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      val m = e.taskMetrics
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.gcMs += m.jvmGCTime
      }
    }
  })

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  })

  /** Runs `body` inside a span named `name`, nested under the open span. */
  def span[A](name: String)(body: => A): A = {
    val s = new Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1))
    spans += s
    stack = s :: stack
    sc.setJobGroup(GroupPrefix + s.id, name)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      s.fsEnd = FsCounters.snapshot()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => sc.setJobGroup(GroupPrefix + p.id, p.name)
        case None => sc.clearJobGroup()
      }
    }
  }

  /** Adds a count to the innermost open span. */
  def note(key: String, value: Long): Unit =
    stack.headOption.foreach(s => s.notes(key) = s.notes.getOrElse(key, 0L) + value)

  /** Spans of the op just finished, with their counts, as JSON-ready maps;
    * then forgets them (the next op starts a fresh tree).
    */
  def drainOp(): java.util.List[Any] = {
    ListenerBusDrain(sc)
    val owner = mutable.HashMap.empty[Int, Int] // job id -> span id
    lock.synchronized {
      jobs.foreach { case (jid, j) =>
        val byGroup =
          if (j.group.startsWith(GroupPrefix))
            Some(j.group.stripPrefix(GroupPrefix).toInt)
              .filter(id => spans.exists(_.id == id))
          else None
        byGroup.orElse(innermostAt(j.startMs)).foreach(owner(jid) = _)
      }
    }
    val out = new java.util.ArrayList[Any]()
    spans.foreach { s =>
      val mine = lock.synchronized {
        owner.collect { case (jid, sid) if sid == s.id => jid -> jobs(jid) }
      }
      val aggs = lock.synchronized {
        mine.keys.toSeq.flatMap(jid =>
          stageJob.collect { case (st, j) if j == jid => stages.get(st) }
            .flatten)
      }
      val intervals = mine.values.map(j => Seq(j.startMs, j.endMs)).toSeq
      out.add(Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs,
        "fs" -> Json.obj(s.fsEnd.toSeq.map { case (k, v) =>
          k -> (v - s.fsStart.getOrElse(k, 0L)) }: _*),
        "spark" -> Json.obj(
          "jobs" -> mine.size,
          "stages" -> aggs.size,
          "tasks" -> aggs.map(_.tasks).sum,
          "task_ms" -> aggs.map(_.runMs).sum,
          "shuffle_read_bytes" -> aggs.map(_.shuffleRead).sum,
          "shuffle_write_bytes" -> aggs.map(_.shuffleWrite).sum,
          "spill_bytes" -> aggs.map(_.spill).sum,
          "gc_ms" -> aggs.map(_.gcMs).sum),
        "notes" -> Json.obj(s.notes.toSeq: _*),
        "job_intervals_ms" -> Json.arr(intervals.map(i => Json.arr(i: _*)): _*)))
    }
    lock.synchronized {
      jobs.clear(); stageJob.clear(); stages.clear()
    }
    spans.clear()
    out
  }

  /** Stream trigger progress reported since the last call. */
  def drainProgress(): Seq[StreamingQueryListener.QueryProgressEvent] = {
    ListenerBusDrain(sc)
    progress.synchronized {
      val out = progress.toList
      progress.clear()
      out
    }
  }

  private def innermostAt(ms: Long): Option[Int] =
    spans.filter(s => s.startMs <= ms && ms <= s.endMs)
      .sortBy(depth).lastOption.map(_.id)

  private def depth(s: Span): Int =
    if (s.parent < 0) 0 else 1 + depth(spans(s.parent))
}
