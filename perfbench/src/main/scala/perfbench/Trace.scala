package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerBlockUpdated,
  SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call across a layer boundary. `parent` is the enclosing span
  * on the same thread (0 for a root); spans of one client operation share
  * the root's `op`. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
                      layer: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spans kept in memory while the run measures and written out at its end.
  * Off (the untraced run) it is a direct call with no allocation. */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val ids = new java.util.concurrent.atomic.AtomicInteger(0)
  private val stack = ThreadLocal.withInitial[List[(Int, Int)]](() => Nil)

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val outer = stack.get
      val (parent, op) = outer.headOption.getOrElse((0, id))
      stack.set((id, op) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.synchronized { spans += Span(id, parent, op, name, layer, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per layer in ns: each span's duration minus its direct
    * children's (children on one thread run one after another). */
  def selfNsByLayer: Map[String, Long] = {
    val ss = all
    val childNs = ss.groupBy(_.parent).view.mapValues(_.map(_.durNs).sum).toMap
    ss.groupBy(_.layer).view
      .mapValues(_.map(s => s.durNs - childNs.getOrElse(s.id, 0L)).sum).toMap
  }

  /** Durations in ms of every span with this name. */
  def durationsMs(name: String): Seq[Double] =
    all.filter(_.name == name).map(_.durNs / 1e6)

  def writeJson(path: java.nio.file.Path): Unit = {
    val sb = new StringBuilder("[\n")
    all.sortBy(_.startNs).zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb ++= ",\n"
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},""" +
        s""""name":${Json.str(s.name)},"layer":${Json.str(s.layer)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
    }
    sb ++= "\n]\n"
    java.nio.file.Files.writeString(path, sb.toString)
  }
}

/** Engine counters from the three listener APIs, registered by the
  * benchmark itself: jobs/stages/tasks and task metrics (SparkListener),
  * Catalyst analysis + optimization + planning time (QueryExecutionListener)
  * and per-micro-batch progress (StreamingQueryListener). */
final class EngineCounters extends SparkListener {
  val jobs = new AtomicLong
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val shuffleRead = new AtomicLong
  val shuffleWrite = new AtomicLong
  val spill = new AtomicLong
  val executorRunMs = new AtomicLong
  val planningNs = new AtomicLong
  private val blocks = new ConcurrentHashMap[String, java.lang.Long]()
  private val storage = new AtomicLong
  val peakStorage = new AtomicLong
  private val progress = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    stages.incrementAndGet()
    tasks.addAndGet(info.numTasks)
    Option(info.taskMetrics).foreach { m =>
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      executorRunMs.addAndGet(m.executorRunTime)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val info = e.blockUpdatedInfo
    val key = info.blockId.name
    val now = if (info.storageLevel.isValid) info.memSize else 0L
    val before = Option(blocks.put(key, now)).map(_.longValue).getOrElse(0L)
    val cur = storage.addAndGet(now - before)
    peakStorage.accumulateAndGet(cur, math.max)
    ()
  }

  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      planningNs.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
      ()
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      progress.add(e.progress); ()
    }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(queryListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }

  /** Wait until every event posted so far reached the listeners. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def snapshot: Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble,
    "spark.executor_run_ms" -> executorRunMs.get.toDouble,
    "spark.planning_ms" -> planningNs.get / 1e6)

  def progresses: Seq[StreamingQueryProgress] = progress.asScala.toSeq
}
