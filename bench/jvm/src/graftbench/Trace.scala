package graftbench

import java.util.Properties

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One call into a layer. `parent` is 0 for a top-level span; `run`
  * groups spans by phase ("setup", "timed", "check"). */
final case class Span(id: Int, parent: Int, layer: String, name: String,
    run: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Engine work attributed to one span. */
final class TaskTotals {
  var jobs, tasks = 0L
  var runMs, gcMs, schedDelayMs = 0L
  var shuffleWrite, shuffleRead, spill = 0L
}

/** Per-micro-batch figures from the streaming progress events. */
final case class BatchProgress(batchId: Long, triggerMs: Long, addBatchMs: Long,
    inputRows: Long, stateRows: Long)

/** Spans around the benchmark's calls into the program, plus the engine
  * counters attributed to them.
  *
  * A span id travels to Spark as the local property [[SpanKey]], so every
  * job (and the stages and tasks under it) carries the id of the span
  * that launched it. Streaming micro-batches run on the query's own
  * thread; their jobs are matched to the batch spans made from the
  * progress events through Spark's `streaming.sql.batchId` property.
  *
  * With `on = false` a span only runs its body: no clock reads, no
  * properties, no listener. Spans stay in memory and are written out
  * when the run ends. */
final class Tracer(val on: Boolean, sc: SparkContext) {
  import Tracer._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Int]] { override def initialValue(): List[Int] = Nil }
  private var nextId = 0
  @volatile var run = "setup"

  private def newId(): Int = synchronized { nextId += 1; nextId }

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.get.headOption.getOrElse(0)
      val id = newId()
      val saved = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, id.toString)
      stack.set(id :: stack.get)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get.tail)
        sc.setLocalProperty(SpanKey, saved)
        synchronized { spans += Span(id, parent, layer, name, run, t0, t1) }
      }
    }

  /** Id of the innermost open span on this thread (0 outside any). */
  def current: Int = stack.get.headOption.getOrElse(0)

  /** Record a span whose interval was measured elsewhere (a micro-batch
    * seen through its progress event). */
  def record(parent: Int, layer: String, name: String, startNs: Long, endNs: Long): Int =
    synchronized {
      val id = newId()
      spans += Span(id, parent, layer, name, run, startNs, endNs)
      id
    }

  def all: Seq[Span] = synchronized(spans.toList)

  // -- engine counters ------------------------------------------------------

  private val stageKey = mutable.Map.empty[(Int, Int), String]
  private val totals = mutable.Map.empty[String, TaskTotals]
  private val batchSpan = mutable.Map.empty[String, Int]
  /** A stage name per key that names no span (for the check's report). */
  private val stageNames = mutable.Map.empty[String, String]
  private def resolvable(key: String): Boolean = key.startsWith("span:") || key.startsWith("batch:")
  /** Tasks seen per attribution key (for the attribution check). */
  private val seen = mutable.Map.empty[String, Long]

  private def keyOf(p: Properties): String =
    if (p == null) "none"
    else Option(p.getProperty(BatchIdKey)) match {
      case Some(b) => s"batch:${p.getProperty(QueryIdKey)}:$b"
      case None => Option(p.getProperty(SpanKey)).map("span:" + _).getOrElse("none")
    }

  val taskListener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      totals.getOrElseUpdate(keyOf(e.properties), new TaskTotals).jobs += 1
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = Tracer.this.synchronized {
      val key = keyOf(e.properties)
      stageKey((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = key
      if (!resolvable(key)) stageNames.getOrElseUpdate(key, e.stageInfo.name)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val key = stageKey.getOrElse((e.stageId, e.stageAttemptId), "none")
      seen(key) = seen.getOrElse(key, 0L) + 1
      val t = totals.getOrElseUpdate(key, new TaskTotals)
      t.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        t.runMs += m.executorRunTime
        t.gcMs += m.jvmGCTime
        t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        val i = e.taskInfo
        if (i.finishTime > 0)
          t.schedDelayMs += math.max(0L, i.finishTime - i.launchTime - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            (if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L))
      }
    }
  }

  /** Micro-batch progress; always on, since the end-to-end stream
    * latency is defined by `triggerExecution`. */
  val batches = mutable.ArrayBuffer.empty[BatchProgress]
  /** The span streaming batches are recorded under (set by the drain). */
  @volatile var streamParent = 0
  @volatile private var streamSpans = false

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      val b = BatchProgress(p.batchId, ms("triggerExecution"), ms("addBatch"),
        p.numInputRows, p.stateOperators.map(_.numRowsTotal).sum)
      // place the batch span at the trigger's start time (wall clock ->
      // the span clock), with addBatch (the sink) inside it
      val ageMs = System.currentTimeMillis() - java.time.Instant.parse(p.timestamp).toEpochMilli
      val start = System.nanoTime() - ageMs * 1000000L
      val end = start + b.triggerMs * 1000000L
      Tracer.this.synchronized { batches += b }
      if (streamSpans) {
        val id = record(streamParent, "streaming", "batch", start, end)
        // phases run in order ... addBatch, commitOffsets: the sink ends
        // where the commit begins
        val sinkEnd = end - ms("commitOffsets") * 1000000L
        record(id, "ingest", "avro_write",
          math.max(start, sinkEnd - b.addBatchMs * 1000000L), sinkEnd)
        Tracer.this.synchronized { batchSpan(s"batch:${p.id}:${p.batchId}") = id }
      }
    }
  }

  def install(): Unit = {
    if (on) { sc.addSparkListener(taskListener); streamSpans = true }
  }

  /** Counters per span id, once the listener bus has drained. Tasks under
    * a batch key go to that batch's span. */
  def perSpan(): Map[Int, TaskTotals] = synchronized {
    totals.toSeq.flatMap { case (k, t) =>
      resolve(k).map(_ -> t)
    }.groupBy(_._1).map { case (id, ts) =>
      val sum = new TaskTotals
      ts.foreach { case (_, t) =>
        sum.jobs += t.jobs; sum.tasks += t.tasks; sum.runMs += t.runMs
        sum.gcMs += t.gcMs; sum.schedDelayMs += t.schedDelayMs
        sum.shuffleWrite += t.shuffleWrite; sum.shuffleRead += t.shuffleRead
        sum.spill += t.spill
      }
      id -> sum
    }
  }

  private def resolve(key: String): Option[Int] =
    if (key.startsWith("span:")) Some(key.stripPrefix("span:").toInt)
    else batchSpan.get(key)

  /** Attribution check: every task resolves to exactly one recorded span,
    * and every layer span that launched jobs ran tasks. Returns the
    * problems found (empty when attribution is complete). */
  def attributionProblems(): Seq[String] = synchronized {
    val ids = spans.map(_.id).toSet
    val unresolved = seen.toSeq.collect {
      case (k, n) if !resolve(k).exists(ids) =>
        s"$n tasks under unattributed key $k (stage ${stageNames.getOrElse(k, "?")})"
    }
    val idle = perSpan().collect {
      case (id, t) if t.jobs > 0 && t.tasks == 0 => s"span $id launched ${t.jobs} jobs but no tasks"
    }
    (unresolved ++ idle).toSeq
  }

  def tasksSeen: Long = synchronized(seen.values.sum)
}

object Tracer {
  val SpanKey = "graftbench.span"
  val BatchIdKey = "streaming.sql.batchId"
  val QueryIdKey = "sql.streaming.queryId"

  /** Self time: the span's duration minus the part of its interval that
    * its child spans cover (overlapping children are counted once). */
  def selfSeconds(s: Span, children: Seq[Span]): Double = {
    val iv = children.map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    (s.endNs - s.startNs - covered) / 1e9
  }
}
