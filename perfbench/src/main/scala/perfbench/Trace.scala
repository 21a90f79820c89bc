package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One recorded span: a call into a layer, made from the benchmark's own code. */
final case class Span(id: Int, name: String, parent: Int, trace: Int, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/**
 * In-memory span recorder. Spans nest by call order on the driver thread;
 * all spans of one iteration share its trace id. Nothing is written until
 * [[Spans.toJson]] is called at the end of the run. A disabled recorder only
 * runs the body, so untraced iterations record nothing.
 */
final class Spans(enabled: Boolean = true) {
  private val done = ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var trace = 0

  def apply[A](name: String)(body: => A): A = if (!enabled) body else {
    val id = nextId; nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try body
    finally {
      done += Span(id, name, parent, trace, t0, System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = done.toSeq.sortBy(_.id)

  /** Duration minus the part of the span's interval its children cover. */
  def selfNs(s: Span): Long = {
    val kids = done.filter(_.parent == s.id).map(k => (k.startNs, k.endNs)).sortBy(_._1)
    var covered = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    kids.foreach { case (a, b) =>
      if (a > curE) { covered += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += curE - curS
    s.durNs - covered
  }

  def toJson: String = all.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":${s.trace},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_ns":${selfNs(s)}}"""
  }.mkString("[", ",\n", "]")
}

/** Planning phases and outcome of one Dataset action, from a QueryExecutionListener. */
final case class QueryRecord(funcName: String, analysisMs: Long, optimizationMs: Long,
                             planningMs: Long, execNs: Long)

/** Totals of one measured window, read from Spark's listeners. */
final case class SparkWindow(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, runMs: Long,
                             gcMs: Long, peakMemBytes: Long, inputBytes: Long,
                             shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
                             outputBytes: Long, taskSkew: Double, codegenCompileNs: Long,
                             queries: Seq[QueryRecord]) {
  def analysisMs: Long = queries.map(_.analysisMs).sum
  def optimizationMs: Long = queries.map(_.optimizationMs).sum
  def planningMs: Long = queries.map(_.planningMs).sum
}

/**
 * The benchmark's own Spark listeners: task, stage and job totals from a
 * SparkListener, and per-action planning phases from a QueryExecutionListener.
 * Attached only around traced windows, so untraced runs pay nothing.
 */
final class SparkRecorder(spark: SparkSession) {
  private final class Stage { var submitted = 0L; var completed = 0L; val taskMs = ArrayBuffer.empty[Long] }

  private var jobs, stages, tasks, cpuNs, runMs, gcMs, peakMem, inBytes = 0L
  private var shW, shR, spill, outBytes = 0L
  private val stageInfo = scala.collection.mutable.Map.empty[Int, Stage]
  private val queries = ArrayBuffer.empty[QueryRecord]
  private var codegen0 = 0L

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized { jobs += 1 }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      stages += 1
      val st = stageInfo.getOrElseUpdate(e.stageInfo.stageId, new Stage)
      st.submitted = e.stageInfo.submissionTime.getOrElse(0L)
      st.completed = e.stageInfo.completionTime.getOrElse(0L)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        cpuNs += m.executorCpuTime; runMs += m.executorRunTime; gcMs += m.jvmGCTime
        peakMem = math.max(peakMem, m.peakExecutionMemory)
        inBytes += m.inputMetrics.bytesRead
        shW += m.shuffleWriteMetrics.bytesWritten
        shR += m.shuffleReadMetrics.totalBytesRead
        spill += m.memoryBytesSpilled + m.diskBytesSpilled
        outBytes += m.outputMetrics.bytesWritten
        stageInfo.getOrElseUpdate(e.stageId, new Stage).taskMs += m.executorRunTime
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String) = ph.get(p).map(_.durationMs).getOrElse(0L)
      val rec = QueryRecord(funcName, ms("analysis"), ms("optimization"), ms("planning"), durationNs)
      SparkRecorder.this.synchronized { queries += rec }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def drain(): Unit =
    org.apache.spark.sql.graftshim.Bridge.drainListenerBus(spark.sparkContext, 60000L)

  /** Attach the listeners with cleared totals. */
  def start(): Unit = {
    drain()
    synchronized {
      jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0; gcMs = 0; peakMem = 0; inBytes = 0
      shW = 0; shR = 0; spill = 0; outBytes = 0; stageInfo.clear(); queries.clear()
    }
    codegen0 = CodeGenerator.compileTime
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(queryListener)
  }

  /** Detach the listeners once every queued event is delivered; return the window's totals. */
  def stop(): SparkWindow = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
    synchronized {
      val longest = stageInfo.values.filter(_.taskMs.nonEmpty)
        .maxByOption(s => s.completed - s.submitted)
      val skew = longest.map { s =>
        val sorted = s.taskMs.sorted
        sorted.last.toDouble / math.max(sorted(sorted.size / 2), 1L)
      }.getOrElse(1.0)
      SparkWindow(jobs, stages, tasks, cpuNs, runMs, gcMs, peakMem, inBytes, shW, shR, spill,
        outBytes, skew, CodeGenerator.compileTime - codegen0, queries.toVector)
    }
  }

  def window[A](body: => A): (A, SparkWindow) = {
    start()
    val a = try body catch { case e: Throwable => stop(); throw e }
    (a, stop())
  }
}
