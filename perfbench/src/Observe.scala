package perfbench

import graft.core._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types.StructType
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Order statistics as the benchmark reports them. */
object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  /** Nearest-rank percentile. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
  }

  private val Levels = Seq(99.9, 99.0, 95.0, 90.0, 75.0)

  /** The highest of the standard percentiles that still has at least
    * 10 samples beyond it, as (label, value); the maximum when there are
    * too few samples for any of them.
    */
  def tail(xs: Seq[Double]): (String, Double) =
    Levels.find(p => xs.size * (100.0 - p) / 100.0 >= 10.0 - 1e-9) match {
      case Some(p) => (s"p${if (p == p.floor) p.toInt.toString else p.toString}", pct(xs, p))
      case None => ("max", xs.max)
    }
}

/** One traced interval. `parent` is the id of the enclosing span (0 for
  * a root).
  */
final case class Span(id: Long, parent: Long, name: String,
    startNs: Long, endNs: Long, attrs: Map[String, String])

/** In-memory span recorder, active only in traced runs. Spans nest on
  * the recording thread through an explicit stack; spans recorded after
  * the fact (Spark jobs, micro-batches) name their parent directly.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 0L

  def span[A](name: String, attrs: Map[String, String] = Map.empty)(f: => A): A =
    if (!enabled) f
    else {
      val (id, parent) = synchronized {
        nextId += 1; val p = stack.headOption.getOrElse(0L)
        stack.push(nextId); (nextId, p)
      }
      val t0 = System.nanoTime()
      try f
      finally synchronized {
        stack.pop()
        spans += Span(id, parent, name, t0, System.nanoTime(), attrs)
      }
    }

  def record(name: String, parent: Long, startNs: Long, endNs: Long,
      attrs: Map[String, String] = Map.empty): Unit = synchronized {
    nextId += 1
    if (enabled) spans += Span(nextId, parent, name, startNs, endNs, attrs)
  }

  def all: Seq[Span] = synchronized { spans.toVector.sortBy(_.startNs) }

  def writeJson(path: java.nio.file.Path): Unit = {
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    val lines = all.map { s =>
      val a = s.attrs.map { case (k, v) => s""""${esc(k)}":"${esc(v)}"""" }
        .mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${esc(s.name)}",""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs},"attrs":{$a}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.writeString(path, lines.mkString("[\n", ",\n", "\n]\n"))
  }
}

/** Spark job/stage/task cost, aggregated per named scope. A job belongs
  * to the scope that was open when it was submitted (workloads run one
  * at a time, so submission time identifies the scope even for jobs
  * launched from engine-internal thread pools).
  */
final class SparkLayers(sc: SparkContext) extends SparkListener {
  final case class Job(id: Int, start: Long, var end: Long, stages: Seq[Int])
  final class StageCost {
    var tasks = 0L; var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
    var inBytes = 0L; var outBytes = 0L; var shReadBytes = 0L
    var shWriteBytes = 0L; var fetchWaitMs = 0L; var spillBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.Map.empty[Int, StageCost]
  private val scopes = mutable.ArrayBuffer.empty[(String, Long, Long)]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = Job(e.jobId, e.time, -1L, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val i = e.stageInfo
      val c = stages.getOrElseUpdate(i.stageId, new StageCost)
      c.tasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime; c.inBytes += m.inputMetrics.bytesRead
        c.outBytes += m.outputMetrics.bytesWritten
        c.shReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.shWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Runs `f` as scope `name`. Scopes may nest: a job counts toward
    * every scope open at its submission.
    */
  def scope[A](name: String)(f: => A): A = {
    val t0 = System.currentTimeMillis()
    try f
    finally synchronized { scopes += ((name, t0, System.currentTimeMillis())) }
  }

  /** Per-scope metrics, after the listener bus has drained. */
  def report(cores: Int): Map[String, Map[String, Double]] = {
    org.apache.spark.BusDrain(sc)
    synchronized {
      scopes.groupBy(_._1).map { case (name, ivs) =>
        val mine = jobs.values.filter(j =>
          ivs.exists { case (_, a, b) => j.start >= a && j.start <= b }).toSeq
        val costs = mine.flatMap(_.stages).distinct.flatMap(stages.get)
        val wallMs = ivs.map { case (_, a, b) => b - a }.sum.toDouble
        // union of job intervals, clipped to the scope's intervals
        val busy = ivs.map { case (_, a, b) =>
          val iv = mine.map(j => (math.max(a, j.start),
            math.min(b, if (j.end < 0) b else j.end)))
            .filter { case (x, y) => y > x }.sortBy(_._1)
          var covered = 0L; var hi = Long.MinValue
          iv.foreach { case (x, y) =>
            if (x > hi) { covered += y - x; hi = y }
            else if (y > hi) { covered += y - hi; hi = y }
          }
          covered
        }.sum.toDouble
        val runS = costs.map(_.runMs).sum / 1e3
        name -> Map(
          "jobs" -> mine.size.toDouble,
          "stages" -> costs.size.toDouble,
          "tasks" -> costs.map(_.tasks).sum.toDouble,
          "executor_run_s" -> runS,
          "executor_cpu_s" -> costs.map(_.cpuNs).sum / 1e9,
          "gc_s" -> costs.map(_.gcMs).sum / 1e3,
          "input_bytes" -> costs.map(_.inBytes).sum.toDouble,
          "output_bytes" -> costs.map(_.outBytes).sum.toDouble,
          "shuffle_read_bytes" -> costs.map(_.shReadBytes).sum.toDouble,
          "shuffle_write_bytes" -> costs.map(_.shWriteBytes).sum.toDouble,
          "shuffle_fetch_wait_s" -> costs.map(_.fetchWaitMs).sum / 1e3,
          "spill_bytes" -> costs.map(_.spillBytes).sum.toDouble,
          "driver_gap_s" -> math.max(0.0, wallMs - busy) / 1e3,
          "busy_frac" ->
            (if (wallMs <= 0) 0.0 else runS / (wallMs / 1e3 * cores)))
      }
    }
  }

  /** Every job seen, for span export. */
  def allJobs: Seq[Job] = synchronized { jobs.values.toVector }
}

/** Every streaming progress event, by query id. */
final class StreamLog extends StreamingQueryListener {
  final case class Progress(rows: Long, durMs: Map[String, Long], startMs: Long)
  private val log = mutable.Map.empty[java.util.UUID, mutable.ArrayBuffer[Progress]]

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val rec = Progress(p.numInputRows,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      java.time.Instant.parse(p.timestamp).toEpochMilli)
    synchronized { log.getOrElseUpdate(p.id, mutable.ArrayBuffer.empty) += rec }
  }

  def of(id: java.util.UUID): Seq[Progress] =
    synchronized { log.get(id).map(_.toVector).getOrElse(Vector.empty) }
}

/** A delegating [[Store]] that times every call into the wrapped
  * `StateStore` and tells the benchmark when a commit returned.
  */
final class TimedStore(val inner: Store, tracer: Tracer) extends Store {
  @volatile var commits = 0L
  @volatile var deferred = 0L
  @volatile var rollbacks = 0L
  @volatile var checkpointCalls = 0L
  @volatile var readCalls = 0L
  @volatile var commitS = 0.0
  @volatile var rollbackS = 0.0
  /** Called with System.nanoTime() when a commit that wrote returns. */
  @volatile var onCommitted: Long => Unit = _ => ()

  def root: String = inner.root
  override def preferLocalOutputs: Boolean = inner.preferLocalOutputs
  def batchId: Long = inner.batchId
  def checkpoints: Map[String, Seq[Point]] = {
    checkpointCalls += 1; inner.checkpoints
  }
  def read(table: String, schema: StructType): DataFrame = {
    readCalls += 1; inner.read(table, schema)
  }
  def readLatestSegment(table: String, schema: StructType): DataFrame = {
    readCalls += 1; inner.readLatestSegment(table, schema)
  }
  def commit(batchId: Long, appends: Map[String, (DataFrame, String)],
      checkpoints: Map[String, Seq[Point]],
      compactors: Map[String, BoundCompactor],
      onSegment: (String, Double) => Unit): Boolean =
    tracer.span("store.commit", Map("batch" -> batchId.toString)) {
      val t0 = System.nanoTime()
      val wrote = inner.commit(batchId, appends, checkpoints, compactors, onSegment)
      val t1 = System.nanoTime()
      commitS += (t1 - t0) / 1e9
      if (wrote) { commits += 1; onCommitted(t1) } else deferred += 1
      wrote
    }
  def rollback(delSlot: Long, slotCols: Map[String, String],
      checkpoints: Map[String, Seq[Point]]): Unit =
    tracer.span("store.rollback", Map("del_slot" -> delSlot.toString)) {
      val t0 = System.nanoTime()
      inner.rollback(delSlot, slotCols, checkpoints)
      val t1 = System.nanoTime()
      rollbackS += (t1 - t0) / 1e9
      rollbacks += 1
    }

  /** Files and bytes under the store root. */
  def onDisk: (Long, Long) = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      val files = walk.iterator.asScala
        .filter(p => java.nio.file.Files.isRegularFile(p)).toSeq
      (files.size.toLong, files.map(p => java.nio.file.Files.size(p)).sum)
    } finally walk.close()
  }
}
