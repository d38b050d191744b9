package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** The benchmark's own spans around each call into a layer. Spark jobs are
  * tied to the innermost open span through a local property that the
  * client thread sets, so [[JobListener]] can attribute its counters.
  * Spans stay in memory until the run ends.
  */
final class Tracer(sc: SparkContext) extends Tracer.Spans {
  import Tracer._

  val spans = mutable.ArrayBuffer[Span]()

  /** Jobs and their summed wall time (ms), by the span they started in. */
  val spanJobs = mutable.HashMap[Int, (Int, Long)]()
  private var open = List.empty[Span]
  private var op = -1

  /** Start op `i`: later spans and jobs carry its id. */
  def beginOp(i: Int): Unit = {
    op = i
    sc.setLocalProperty(OpKey, i.toString)
  }

  /** Jobs from here on belong to no op (listener op id -1). */
  def endOp(): Unit = {
    op = -1
    sc.setLocalProperty(OpKey, null)
  }

  /** Credit `jobs` to the spans they started in. */
  def attribute(jobs: Seq[JobListener.Job]): Unit =
    jobs.groupBy(_.span).foreach { case (id, js) =>
      val (n, ms) = spanJobs.getOrElse(id, (0, 0L))
      spanJobs(id) = (n + js.size, ms + js.map(j => j.end - j.start).sum)
    }

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size, name, open.headOption.fold(-1)(_.id), op, System.nanoTime(), 0L)
    spans += s
    open = s :: open
    sc.setLocalProperty(SpanKey, s.id.toString)
    try body
    finally {
      s.end = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(SpanKey, open.headOption.fold(null: String)(_.id.toString))
    }
  }
}

object Tracer {
  final case class Span(id: Int, name: String, parent: Int, op: Int, start: Long, var end: Long)

  val OpKey = "perfbench.op"
  val SpanKey = "perfbench.span"

  /** Where a workload reports the layer calls it makes. */
  trait Spans { def apply[T](name: String)(body: => T): T }

  /** Stand-in when tracing is off: runs the body and records nothing. */
  object Off extends Spans { def apply[T](name: String)(body: => T): T = body }
}

/** Job, stage and task counters from the Spark listener bus, attributed to
  * the op and span that were current on the client thread when each job
  * started, and to the program module of the job's call site.
  */
final class JobListener extends SparkListener {
  import JobListener._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageOp = mutable.HashMap[Int, Int]()
  private val stages = mutable.HashMap[Int, StageAgg]()
  private val execSites = mutable.HashMap[Long, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val op = prop(Tracer.OpKey).fold(-1)(_.toInt)
    val last = if (e.stageInfos.isEmpty) None else Some(e.stageInfos.maxBy(_.stageId))
    // AQE submits its stages from a thread pool, so their own call site
    // names no program frame; the SQL execution they belong to does
    val execSite = prop("spark.sql.execution.id").flatMap(id => execSites.get(id.toLong))
    val module =
      (execSite.toSeq ++ last.map(_.details)).map(moduleOf).find(_ != "other").getOrElse("other")
    jobs(e.jobId) = Job(e.jobId, op, prop(Tracer.SpanKey).fold(-1)(_.toInt), module, e.time, e.time)
    e.stageInfos.foreach(s => if (!stageOp.contains(s.stageId)) stageOp(s.stageId) = op)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized { execSites(s.executionId) = s.details }
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new StageAgg(stageOp.getOrElse(e.stageId, -1)))
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.inputBytes += m.inputMetrics.bytesRead
      s.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Remove and return everything recorded for op `op`. */
  def take(op: Int): (Seq[Job], Seq[StageAgg]) = synchronized {
    val js = jobs.values.filter(_.op == op).toSeq
    js.foreach(j => jobs.remove(j.id))
    val ss = stages.filter(_._2.op == op)
    ss.keys.foreach(stages.remove)
    (js, ss.values.toSeq)
  }
}

object JobListener {
  final case class Job(id: Int, op: Int, span: Int, module: String, start: Long, var end: Long)

  final class StageAgg(val op: Int) {
    val taskMs = mutable.ArrayBuffer[Long]()
    var inputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var outputBytes = 0L
  }

  /** Program modules a job can be attributed to. */
  val Modules = Seq("pipeline", "ops", "operators", "queries", "shims")

  /** The module of the innermost program frame in a long call site (its
    * first line naming `graft.<module>.`, or the snap shims, which sit in
    * Spark's SQL package); "other" when no program frame is there.
    */
  def moduleOf(callSite: String): String =
    callSite.linesIterator.map(_.trim).collectFirst {
      case l if l.startsWith("org.apache.spark.sql.graft.shims") => "shims"
      case l if l.startsWith("graft.") => l.split('.')(1)
    }.filter(Modules.contains).getOrElse("other")
}
