package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A timed region recorded from the benchmark's own code around a call
  * into one layer of the program. `parent` is the enclosing span's id
  * (0 at top level); times are JVM-monotonic nanoseconds. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled recorders time the body and keep
  * nothing, so untraced runs pay one `nanoTime` pair per call. */
final class Spans(enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }

  def apply[A](name: String, layer: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get.headOption.getOrElse(0L)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parent, name, layer, t0, System.nanoTime()))
        stack.set(stack.get.tail)
      }
    }

  def all: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

/** Batch-level facts of one streaming micro-batch, from Spark's public
  * `StreamingQueryProgress`. `commitMs` is trigger start plus the
  * trigger's execution time: the moment the batch's offsets and output
  * were committed. */
final case class BatchFact(queryId: String, batchId: Long, commitMs: Long,
    rows: Long, durations: Map[String, Long], end: Map[Int, Long],
    latest: Map[Int, Long])

object Offsets {
  private val Entry = """"(\d+)"\s*:\s*(-?\d+)""".r
  def parse(json: String): Map[Int, Long] =
    if (json == null) Map.empty
    else Entry.findAllMatchIn(json).map(m => m.group(1).toInt -> m.group(2).toLong).toMap
}

/** Collects every streaming progress event of the session; registered in
  * every run, since record latency is derived from batch commits. */
final class ProgressLog extends StreamingQueryListener {
  val facts = new ConcurrentLinkedQueue[BatchFact]()
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
    val src = p.sources.headOption
    facts.add(BatchFact(p.id.toString, p.batchId,
      java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L),
      p.numInputRows, d, src.map(s => Offsets.parse(s.endOffset)).getOrElse(Map.empty),
      src.map(s => Offsets.parse(s.latestOffset)).getOrElse(Map.empty)))
  }
  def forQuery(id: String): Seq[BatchFact] =
    facts.asScala.toSeq.filter(_.queryId == id).sortBy(_.batchId)
}

/** Task, stage and job counters plus query-planning phases, from Spark's
  * public listener interfaces. Registered only in traced runs. */
final class LayerCounters extends SparkListener with QueryExecutionListener {
  final case class TaskFact(stage: Int, durationMs: Long, runMs: Long, cpuNs: Long,
      gcMs: Long, schedDelayMs: Long, shuffleRead: Long, shuffleWrite: Long, failed: Boolean)
  val tasks = new ConcurrentLinkedQueue[TaskFact]()
  val jobs = new AtomicLong(0)
  val stages = new AtomicLong(0)
  val planningMs = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet(); ()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (i != null && m != null) {
      val getting = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      val delay = math.max(0L, i.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - getting)
      tasks.add(TaskFact(e.stageId, i.duration, m.executorRunTime, m.executorCpuTime,
        m.jvmGCTime, delay, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, i.failed))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    planningMs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  def reset(): Unit = { tasks.clear(); jobs.set(0); stages.set(0); planningMs.set(0) }

  /** Totals since the last reset divided by `units` (units of work run
    * while counting) so runs of different length compare. */
  def summary(units: Double): Map[String, Double] = {
    val ts = tasks.asScala.toSeq
    val skews = ts.groupBy(_.stage).values.filter(_.size >= 2).map { st =>
      val ds = st.map(_.durationMs.toDouble).sorted
      ds.last / math.max(1.0, ds(ds.size / 2))
    }.toSeq.sorted
    val u = math.max(units, 1e-9)
    Map(
      "session.jobs" -> jobs.get / u,
      "session.stages" -> stages.get / u,
      "session.tasks" -> ts.size / u,
      "session.scheduler_delay_ms" -> ts.map(_.schedDelayMs).sum / u,
      "plans.planning_ms" -> planningMs.get / u,
      "operators.executor_cpu_ms" -> ts.map(_.cpuNs).sum / 1e6 / u,
      "operators.executor_run_ms" -> ts.map(_.runMs).sum / u,
      "operators.gc_ms" -> ts.map(_.gcMs).sum / u,
      "operators.shuffle_read_bytes" -> ts.map(_.shuffleRead).sum / u,
      "operators.shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum / u,
      "operators.max_task_ms" -> (if (ts.isEmpty) 0.0 else ts.map(_.durationMs).max.toDouble),
      "operators.task_skew" -> (if (skews.isEmpty) 1.0 else skews(skews.size / 2)),
      "operators.failed_tasks" -> ts.count(_.failed) / u)
  }
}

/** Live heap: heap in use right after a full collection, forced by
  * `sample()` at the end of a unit of work (outside any timed region) and
  * maximised over the samples since `reset`. */
final class HeapPeak {
  private var peak = 0L
  /** Collects the heap too, so a timed part starts on a collected heap, as
    * every repetition after a `sample` does. */
  def reset(): Unit = { System.gc(); peak = 0L }
  def sample(): Unit = {
    System.gc()
    peak = math.max(peak, ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed)
  }
  def peakMb: Double = peak / (1024.0 * 1024.0)
  def collectors: Seq[String] = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq.map(_.getName)
}

object Listeners {
  /** Block until every event posted so far has reached every listener. */
  def flush(spark: SparkSession): Unit =
    org.apache.spark.perfbenchaccess.Bus.flush(spark.sparkContext)

  def register(spark: SparkSession, c: LayerCounters): Unit = {
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
  }
  def unregister(spark: SparkSession, c: LayerCounters): Unit = {
    flush(spark)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }
}

/** Percentiles over (value, weight) samples (nearest rank) and over plain
  * samples (interpolated), and medians. */
object Stats {
  def weightedPct(samples: Seq[(Double, Long)], p: Double): Double = {
    val s = samples.filter(_._2 > 0).sortBy(_._1)
    val total = s.map(_._2).sum
    if (total == 0) Double.NaN
    else {
      val rank = math.max(1L, math.ceil(p / 100.0 * total).toLong)
      var acc = 0L
      s.find { case (_, w) => acc += w; acc >= rank }.map(_._1).getOrElse(s.last._1)
    }
  }
  /** Percentile `p` of `xs`, linearly interpolated between the two
    * nearest ranks, so it moves smoothly as samples are added. */
  def pct(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val r = p / 100.0 * (s.size - 1)
      val lo = r.toInt
      if (lo + 1 >= s.size) s(lo) else s(lo) + (r - lo) * (s(lo + 1) - s(lo))
    }
  }
  /** Median, the mean of the two middle values for an even count. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

object Fs {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }
  def files(f: java.io.File): Seq[java.io.File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(files)
    else if (f.exists) Seq(f) else Nil
}
