package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.storage.RDDBlockId

import scala.collection.mutable

/** Per-layer accounting for a traced run.
  *
  * Spans are timed by the benchmark around its own calls into the
  * engine. Jobs are tied to the span that launched them through local
  * properties set on the calling thread (`perfbench.pass`,
  * `perfbench.op`, `perfbench.span`), which Spark copies into every job's
  * properties, so the asynchronous listener needs no clock matching.
  * Each job is also attributed to the engine source file of the action
  * that launched it: from its stage call site, or, for jobs a SQL
  * execution launches from helper threads (adaptive query stages,
  * broadcasts), from the call site of the execution that owns them.
  */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.ArrayBuffer.empty[JobInfo]
  private val perPass = mutable.Map.empty[Int, Agg]
  private val stagePass = mutable.Map.empty[Int, (Int, Boolean)]
  private val blockBytes = mutable.Map.empty[String, Long]
  private val executionFile = mutable.Map.empty[Long, String]
  private var cachedBytes = 0L
  var peakCachedBytes = 0L

  def agg(pass: Int): Agg = synchronized(perPass.getOrElseUpdate(pass, new Agg))

  def span[T](pass: Int, layer: String, name: String, op: String)(f: => T): T = {
    sc.setLocalProperty("perfbench.pass", pass.toString)
    sc.setLocalProperty("perfbench.op", op)
    val outer = sc.getLocalProperty("perfbench.span")
    sc.setLocalProperty("perfbench.span", s"$layer.$name")
    val s = System.nanoTime()
    try f
    finally {
      spans += Span(pass, layer, name, op, Option(outer).getOrElse("-"), s, System.nanoTime())
      sc.setLocalProperty("perfbench.span", outer)
    }
  }

  /** Source file of the first engine frame in a stage's call site. */
  private def engineFile(details: String): String =
    details.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("graft.") && l.contains("(") =>
        l.substring(l.lastIndexOf('(') + 1).takeWhile(c => c != ':' && c != ')')
    }.getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val pass = prop("perfbench.pass").map(_.toInt).getOrElse(-1)
    val span = prop("perfbench.span").getOrElse("-")
    val listing = prop("spark.job.description").exists(_.startsWith("Listing leaf files"))
    val file = e.stageInfos.headOption.map(s => engineFile(s.details)).filter(_ != "-")
      .orElse(prop("spark.sql.execution.id").flatMap(id => executionFile.get(id.toLong)))
      .getOrElse("-")
    jobs += JobInfo(e.jobId, pass, prop("perfbench.op").getOrElse("-"), span, listing, file)
    val a = agg(pass)
    a.jobs += 1
    if (span == "queries.build") a.buildJobs += 1
    e.stageIds.foreach(s => stagePass(s) = (pass, listing))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case x: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart => synchronized {
      executionFile(x.executionId) = engineFile(x.details)
    }
    case _ =>
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stagePass.get(e.stageInfo.stageId).foreach { case (pass, _) => agg(pass).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val (pass, listing) = stagePass.getOrElse(e.stageId, (-1, false))
    val a = agg(pass)
    a.tasks += 1
    if (listing) a.listingTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      a.taskNs += m.executorRunTime * 1000000L
      a.taskCpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inputBytes += m.inputMetrics.bytesRead
      a.outputBytes += m.outputMetrics.bytesWritten
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val i = e.blockUpdatedInfo
    if (i.blockId.isInstanceOf[RDDBlockId]) {
      val now = if (i.storageLevel.isValid) i.memSize + i.diskSize else 0L
      cachedBytes += now - blockBytes.getOrElse(i.blockId.name, 0L)
      if (now == 0L) blockBytes.remove(i.blockId.name) else blockBytes(i.blockId.name) = now
      peakCachedBytes = math.max(peakCachedBytes, cachedBytes)
    }
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)
}

object Tracer {
  /** `f` inside a span when tracing, `f` alone otherwise. */
  def within[T](t: Option[Tracer], pass: Int, layer: String, name: String, op: String)(f: => T): T =
    t match {
      case Some(x) => x.span(pass, layer, name, op)(f)
      case None => f
    }

  /** `parent` is the enclosing span as `layer.name`; spans of one
    * operation share (pass, op). */
  final case class Span(pass: Int, layer: String, name: String, op: String, parent: String,
      startNs: Long, endNs: Long)
  final class Agg {
    var jobs, stages, tasks, listingTasks, buildJobs = 0L
    var taskNs, taskCpuNs, gcMs, shuffleBytes, shuffleRecords, spillBytes = 0L
    var inputBytes, outputBytes, peakExecMem = 0L
  }
  final case class JobInfo(id: Int, pass: Int, op: String, span: String,
      listing: Boolean, file: String)
}
