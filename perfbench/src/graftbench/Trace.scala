package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One timed interval of the traced run: a call into a layer, made from
  * the benchmark's own code. `op` ties every span of one client
  * operation together; `parent` is the enclosing span (-1 at the root). */
final case class Span(id: Int, parent: Int, name: String, op: Int,
    startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Span recorder. Disabled, `span` only runs its body: the untraced run
  * records nothing and registers no listener. */
final class Tracer(val enabled: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private val (refMs, refNs) = (System.currentTimeMillis(), System.nanoTime())
  /** Wall-clock milliseconds of a span boundary, for matching Spark's
    * event times. */
  def wallMs(ns: Long): Double = refMs + (ns - refNs) / 1e6
  private var stack = List.empty[Int]
  private var nextId = 0
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, op, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** Total and count of spans with `name`. */
  def total(name: String): (Double, Int) = {
    val s = spans.filter(_.name == name)
    (s.map(_.ms).sum, s.size)
  }

  def mean(name: String): Double = {
    val (t, n) = total(name)
    if (n == 0) 0.0 else t / n
  }

  /** Self time per span name: a span's duration minus what its
    * children cover. Children run inside their parent's call, so their
    * intervals nest and do not overlap one another. */
  def selfTimes: Seq[(String, Double, Int)] = {
    val childMs = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) childMs(s.parent) += s.ms)
    spans.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(s => s.ms - childMs(s.id)).sum, ss.size)
    }.sortBy(-_._2)
  }
}

/** Per-operation Spark counts, tagged by the local property the client
  * sets before each op. Jobs are charged to modules by call site: the
  * result stage of a job is named `<method> at <File>.scala:<line>`, and
  * `modules` maps the repository's source files to their module. */
final class OpCounts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, gcMs, scanBytes, shuffleRead, shuffleWrite, spill = 0L
  var peakMem = 0L
  val jobsBy = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

final case class StreamBatch(startMs: Long, triggerMs: Double,
    planningMs: Double, walMs: Double)

final class Listener(modules: Map[String, String]) extends SparkListener {
  val byOp = mutable.Map.empty[Int, OpCounts]
  private val stageOp = mutable.Map.empty[Int, Int]
  /** (op, submission wall-clock ms) of every job. */
  val jobTimes = mutable.ArrayBuffer.empty[(Int, Long)]
  @volatile var drained = false

  private def counts(op: Int) = byOp.getOrElseUpdate(op, new OpCounts)

  /** `parquet at Sources.scala:44` -> io; frames outside the repository
    * (`CompletableFuture.java`, AQE and broadcast pools) -> async. */
  def moduleOf(site: String): String = {
    val file = site.split(" at ").lastOption.getOrElse("").split(":").head
    modules.getOrElse(file, "async")
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Listener.OpKey))).map(_.toInt).getOrElse(-1)
    if (op == Listener.DrainOp) drained = true
    else {
      e.stageIds.foreach(stageOp(_) = op)
      jobTimes += op -> e.time
      val c = counts(op)
      c.jobs += 1
      c.stages += e.stageInfos.size
      val site = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name).getOrElse("")
      c.jobsBy(moduleOf(site)) += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts(stageOp.getOrElse(e.stageId, -1))
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.scanBytes += m.inputMetrics.bytesRead
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakMem = math.max(c.peakMem, m.peakExecutionMemory)
    }
  }

  /** Streaming progress reaches every SparkContext listener, including
    * queries started on a child session; kept with the trigger's
    * wall-clock start so batches can be matched to the op running them. */
  val batches = mutable.ArrayBuffer.empty[StreamBatch]
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: StreamingQueryListener.QueryProgressEvent => synchronized {
      val d = p.progress.durationMs
      def get(k: String) = Option(d.get(k)).map(_.doubleValue).getOrElse(0.0)
      batches += StreamBatch(java.time.Instant.parse(p.progress.timestamp).toEpochMilli,
        get("triggerExecution"), get("queryPlanning"), get("walCommit"))
    }
    case _ =>
  }

  /** Block until every event posted before this call was delivered: run
    * a marker job and wait for its start event. */
  def drain(sc: SparkContext): Unit = {
    drained = false
    sc.setLocalProperty(Listener.OpKey, Listener.DrainOp.toString)
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.nanoTime() + 30e9.toLong
    while (!drained && System.nanoTime() < deadline) Thread.sleep(5)
  }
}

object Listener {
  val OpKey = "graftbench.op"
  val DrainOp = -2

  /** Source file name -> module, from the repository's source tree:
    * `graft/<module>/X.scala` -> module, top-level `graft/X.scala` ->
    * entry, the benchmark's own files -> bench. */
  def moduleMap(srcRoot: String, benchFiles: Seq[String]): Map[String, String] = {
    val root = new java.io.File(srcRoot, "graft")
    val top = Option(root.listFiles).getOrElse(Array.empty)
    val nested = top.filter(_.isDirectory).flatMap { d =>
      Option(d.listFiles).getOrElse(Array.empty).map(_.getName -> d.getName)
    }
    val entry = top.filter(_.isFile).map(_.getName -> "entry")
    (nested ++ entry).toMap ++ benchFiles.map(_ -> "bench")
  }
}
