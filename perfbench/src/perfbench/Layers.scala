package perfbench

import scala.collection.mutable

import org.apache.spark.{PerfbenchBridge, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark execution counters per op, from a listener the benchmark
  * registers for traced runs only. A job belongs to the op whose id
  * `opOf` reads from the job's local properties; its stages and tasks
  * follow the job. */
final class SparkLayer(opOf: java.util.Properties => Int) extends SparkListener {
  import SparkLayer.Acc
  final case class Job(op: Int, startMs: Long, endMs: Long)

  private val accs = mutable.Map[Int, Acc]()
  private val stageOp = mutable.Map[Int, Int]()
  private val stageSubmitMs = mutable.Map[Int, Long]()
  private final class Active(val op: Int, val stages: Set[Int], val startMs: Long) {
    val submitted = mutable.Set[Int]()
  }
  private val active = mutable.Map[Int, Active]()
  private val jobs = mutable.ArrayBuffer[Job]()

  private def acc(op: Int): Acc = accs.getOrElseUpdate(op, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).map(opOf).getOrElse(-1)
    if (op >= 0) {
      val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
      val a = acc(op)
      a.jobs += 1
      if (streaming) a.streamJobs += 1
      e.stageIds.foreach(stageOp(_) = op)
      active(e.jobId) = new Active(op, e.stageIds.toSet, e.time)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val sid = e.stageInfo.stageId
    stageSubmitMs(sid) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    active.values.foreach(j => if (j.stages(sid)) j.submitted += sid)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    active.remove(e.jobId).foreach { j =>
      val a = acc(j.op)
      a.stages += j.submitted.size
      a.skipped += j.stages.size - j.submitted.size
      jobs += Job(j.op, j.startMs, e.time)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val a = acc(op)
      a.tasks += 1
      stageSubmitMs.get(e.stageId).foreach(s => a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.inputBytes += m.inputMetrics.bytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
      }
    }
  }

  def accOf(op: Int): Acc = synchronized(accs.getOrElse(op, new Acc))
  def jobsOf(ops: Set[Int]): Seq[Job] = synchronized(jobs.filter(j => ops(j.op)).toSeq)
}

object SparkLayer {
  /** Counters of one op; task times summed over its tasks. */
  final class Acc {
    var jobs, streamJobs, stages, skipped, tasks = 0L
    var waitMs, runMs, gcMs, cpuNs = 0L
    var inputBytes, shuffleWrite, shuffleRead, spill, peakExecMem = 0L
  }
}

/** Per-trigger progress of every streaming query, from a
  * `StreamingQueryListener`. Only triggers that ran a batch are kept. */
final class StreamLayer extends StreamingQueryListener {
  final case class Trigger(batchId: Long, startMs: Long, durMs: Map[String, Long],
                           stateCommitMs: Long, stateRows: Long)
  private val triggers = mutable.ArrayBuffer[Trigger]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    if (d.containsKey("addBatch")) {
      val durs = Seq("triggerExecution", "addBatch", "walCommit", "commitOffsets", "queryPlanning")
        .map(k => k -> Option(d.get(k)).map(_.longValue).getOrElse(0L)).toMap
      val t = Trigger(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli, durs,
        p.stateOperators.map(_.commitTimeMs).sum, p.stateOperators.map(_.numRowsTotal).sum)
      synchronized { triggers += t; notifyAll() }
    }
  }

  def within(fromMs: Long, toMs: Long): Seq[Trigger] =
    synchronized(triggers.filter(t => t.startMs >= fromMs && t.startMs <= toMs).toSeq)

  def ofBatch(batchId: Long): Seq[Trigger] = synchronized(triggers.filter(_.batchId == batchId).toSeq)

  /** Wait up to `timeoutMs` for the progress of `batchId`, which Spark
    * reports after the batch has committed. */
  def await(batchId: Long, timeoutMs: Long): Unit = synchronized {
    val end = System.currentTimeMillis() + timeoutMs
    while (!triggers.exists(_.batchId == batchId) && System.currentTimeMillis() < end)
      wait(math.max(1L, end - System.currentTimeMillis()))
  }
}

/** The instruments of a traced run. The listeners are registered just
  * before each traced op and removed after it, once the bus has
  * delivered its events, so the untraced ops between them run without
  * them. */
final class Tracer(spark: SparkSession, opOf: java.util.Properties => Int) {
  private val sc = spark.sparkContext
  val sparkLayer = new SparkLayer(opOf)
  val streamLayer = new StreamLayer
  val spans = new Spans

  def on(): Unit = {
    PerfbenchBridge.drainListenerBus(sc)
    sc.addSparkListener(sparkLayer)
    spark.streams.addListener(streamLayer)
  }

  def off(): Unit = {
    PerfbenchBridge.drainListenerBus(sc)
    sc.removeSparkListener(sparkLayer)
    spark.streams.removeListener(streamLayer)
  }
}

/** Spans of one traced phase: each op is a trace whose root span is the
  * op; children are the layer calls the benchmark wraps, Spark jobs and
  * stream triggers (these two placed under the innermost span that
  * contains their start). Times are epoch nanoseconds. */
final class Spans {
  final case class Span(trace: Int, id: Int, name: String, startNs: Long, endNs: Long,
                        parent: Int, fixedParent: Boolean)
  private val spans = mutable.ArrayBuffer[Span]()

  /** A span the benchmark timed itself; `parent` -1 makes it a root. */
  def add(trace: Int, name: String, startNano: Long, endNano: Long, parent: Int = -1): Int =
    synchronized {
      val id = spans.size
      spans += Span(trace, id, name, Clock.epochNs(startNano), Clock.epochNs(endNano), parent,
        fixedParent = true)
      id
    }

  /** A span reported by a listener (epoch ms); parent found by containment. */
  def addObserved(trace: Int, name: String, startMs: Long, endMs: Long): Unit = synchronized {
    spans += Span(trace, spans.size, name, startMs * 1000000L, endMs * 1000000L, -1, fixedParent = false)
  }

  /** All spans with parents resolved and self time computed, as JSON lines. */
  def render(): Seq[String] = synchronized {
    val byTrace = spans.groupBy(_.trace)
    val resolved = spans.map { s =>
      if (s.fixedParent) s
      else {
        val host = byTrace(s.trace).filter(p => p.id != s.id && p.startNs <= s.startNs &&
          s.startNs <= p.endNs && (p.fixedParent || p.name == "streaming.trigger") &&
          (p.endNs - p.startNs) >= (s.endNs - s.startNs))
        val parent = if (host.isEmpty) -1 else host.maxBy(p => (p.startNs, -(p.endNs - p.startNs))).id
        s.copy(parent = parent)
      }
    }
    val children = resolved.groupBy(_.parent)
    resolved.toSeq.map { s =>
      val kids = children.getOrElse(s.id, Nil).map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = s.startNs
      kids.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      Json.render(mutable.LinkedHashMap(
        "trace" -> s.trace, "id" -> s.id, "parent" -> (if (s.parent < 0) None else Some(s.parent)),
        "name" -> s.name, "start_s" -> s.startNs / 1e9, "dur_s" -> (s.endNs - s.startNs) / 1e9,
        "self_s" -> (s.endNs - s.startNs - covered) / 1e9))
    }
  }
}

object Host {
  /** Peak resident set size of this process in MB (VmHWM). */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines().find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)
  }

  /** A fixed Spark job with one task per core. */
  def sparkJobS(spark: org.apache.spark.sql.SparkSession, cores: Int): Double = {
    val t = System.nanoTime()
    spark.range(0L, cores.toLong << 22, 1L, cores).selectExpr("sum(id * 3 + 1)").collect()
    (System.nanoTime() - t) / 1e9
  }

  /** Persistent RDDs and the storage bytes they hold. */
  def storage(sc: SparkContext): (Int, Long) = {
    val info = sc.getRDDStorageInfo
    (sc.getPersistentRDDs.size, info.map(i => i.memSize + i.diskSize).sum)
  }
}
