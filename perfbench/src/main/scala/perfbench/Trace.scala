package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.BusDrain
import org.apache.spark.scheduler._

/** Per-layer tracing for one session.
  *
  * The harness opens a span around every call it makes into the engine
  * (`span`); a `SparkListener` records every job with its start and end,
  * its description, the staging directory it writes and the metrics of
  * its stages. After a
  * traced unit of work, [[attribute]] splits the unit's wall time over the
  * layers: an instant in which jobs run belongs to the layer of the most
  * recently started running job, an instant with no job running is `gap`
  * time of the layer whose job ended last inside the same span (the
  * driver-side tail of that phase, such as a bucket rename swap), or of the
  * span's own layer before its first job. Self times therefore sum to the
  * wall time exactly.
  *
  * A job's layer comes from the description the engine sets (`graft.io.
  * Label`). Jobs started inside a structured-streaming batch carry the
  * stream's own description and call site instead (the engine's labels
  * give way to an outer description), so for those the staging directory
  * the job's SQL execution writes names the phase; a job with neither
  * belongs to the span it started in. */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  /** When false the listener drops events (set-up and end-of-run checks
    * are not traced). */
  @volatile var enabled = false

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  /** SQL execution id -> the staging directory it writes, if any. */
  private val execStage = mutable.HashMap.empty[Long, String]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  /** Every span and job of the run, as JSON lines, written at the end. */
  val log = mutable.ArrayBuffer.empty[String]

  sc.addSparkListener(this)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
        if enabled =>
      StageWrite.findFirstMatchIn(s.physicalPlanDescription).foreach(m =>
        synchronized { execStage(s.executionId) = m.group(1) })
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k))).getOrElse("")
    synchronized {
      val stage = prop("spark.sql.execution.id").toLongOption
        .flatMap(execStage.get).getOrElse("")
      jobs(e.jobId) = Job(e.jobId, e.time, e.time,
        prop("spark.job.description"), stage)
      e.stageIds.foreach(stageJob(_) = e.jobId)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled)
    synchronized { jobs.get(e.jobId).foreach(_.end = e.time) }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    if (enabled) synchronized {
      val si = e.stageInfo
      stageJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
        j.tasks += si.numTasks
        val m = si.taskMetrics
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.inBytes += m.inputMetrics.bytesRead
          j.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          j.outBytes += m.outputMetrics.bytesWritten
        }
      }
    }

  /** Time `body` as a span of `layer`; nested spans are its children. */
  def span[T](layer: String)(body: => T): T = {
    if (!enabled) return body
    val s = Span(layer, System.currentTimeMillis(), 0L, open.size)
    open.push(s)
    try body
    finally {
      s.end = System.currentTimeMillis()
      open.pop()
      spans += s
    }
  }

  /** Split the spans and jobs recorded since the last call into per-layer
    * totals, log them, and forget them. Also returns the summed wall time
    * of the top-level spans, which the layers' self times add up to. */
  def attribute(unit: String): (Map[String, Layer], Long) = {
    BusDrain(sc)
    val (js, ss) = synchronized {
      val r = (jobs.values.toVector, spans.toVector)
      jobs.clear(); stageJob.clear(); spans.clear(); execStage.clear()
      r
    }
    ss.foreach(s => log += s"""{"kind":"span","unit":${q(unit)},""" +
      s""""layer":${q(s.layer)},"start":${s.start},"end":${s.end},""" +
      s""""depth":${s.depth}}""")
    js.foreach(j => log += s"""{"kind":"job","unit":${q(unit)},""" +
      s""""id":${j.id},"start":${j.start},"end":${j.end},""" +
      s""""desc":${q(j.desc.linesIterator.take(1).mkString)},""" +
      s""""tasks":${j.tasks},"task_ms":${j.taskMs},"in_bytes":${j.inBytes},""" +
      s""""shuffle_bytes":${j.shuffleBytes},"out_bytes":${j.outBytes}}""")
    val out = mutable.HashMap.empty[String, Layer]
    def layer(n: String) = out.getOrElseUpdate(n, Layer())
    // innermost span open at time t (spans are properly nested)
    def spanAt(t: Long): Option[Span] =
      ss.filter(s => s.start <= t && t < s.end).sortBy(-_.depth).headOption
    val jobLayer = js.map { j =>
      j.id -> layerOf(j, spanAt(j.start).map(_.layer).getOrElse("harness"))
    }.toMap
    js.foreach { j =>
      val l = layer(jobLayer(j.id))
      l.jobs += 1; l.tasks += j.tasks; l.taskMs += j.taskMs
      l.inBytes += j.inBytes; l.shuffleBytes += j.shuffleBytes
      l.outBytes += j.outBytes
    }
    ss.filter(_.depth == 0).foreach { top =>
      val points = (Seq(top.start, top.end) ++
        js.flatMap(j => Seq(j.start, j.end)) ++
        ss.flatMap(s => Seq(s.start, s.end)))
        .filter(t => t >= top.start && t <= top.end).distinct.sorted
      points.zip(points.tail).foreach { case (a, b) =>
        val running = js.filter(j => j.start <= a && j.end >= b)
        if (running.nonEmpty)
          layer(jobLayer(running.maxBy(j => (j.start, j.id)).id)).selfMs +=
            b - a
        else {
          val sp = spanAt(a).getOrElse(top)
          val owner = js.filter(j => j.end <= a && j.end >= sp.start)
            .sortBy(j => (j.end, j.id)).lastOption
            .map(j => jobLayer(j.id)).getOrElse(sp.layer)
          val l = layer(owner)
          l.selfMs += b - a; l.gapMs += b - a
        }
      }
    }
    (out.toMap, ss.filter(_.depth == 0).map(s => s.end - s.start).sum)
  }
}

object Trace {
  final case class Job(id: Int, start: Long, var end: Long, desc: String,
      stageDir: String, var tasks: Long = 0L, var taskMs: Long = 0L,
      var inBytes: Long = 0L, var shuffleBytes: Long = 0L,
      var outBytes: Long = 0L)

  final case class Span(layer: String, start: Long, var end: Long,
      depth: Int)

  /** Per-layer totals of one traced unit. */
  final case class Layer(var selfMs: Long = 0L, var jobs: Long = 0L,
      var tasks: Long = 0L, var taskMs: Long = 0L, var gapMs: Long = 0L,
      var inBytes: Long = 0L, var shuffleBytes: Long = 0L,
      var outBytes: Long = 0L) {
    def add(o: Layer): Unit = {
      selfMs += o.selfMs; jobs += o.jobs; tasks += o.tasks
      taskMs += o.taskMs; gapMs += o.gapMs; inBytes += o.inBytes
      shuffleBytes += o.shuffleBytes; outBytes += o.outBytes
    }
    def fields: Seq[(String, Long, String)] = Seq(
      ("self_ms", selfMs, "ms"), ("jobs", jobs, "count"),
      ("tasks", tasks, "count"), ("task_ms", taskMs, "ms"),
      ("gap_ms", gapMs, "ms"), ("in_bytes", inBytes, "B"),
      ("shuffle_bytes", shuffleBytes, "B"), ("out_bytes", outBytes, "B"))
  }

  /** The pipeline layers, in report order. Operator queries add one
    * `queries.<name>` layer each. */
  val Layers: Seq[String] = Seq("extract", "profile", "decompose_write",
    "workflow_counts", "workflow", "validate", "sync.classify", "sync.stage",
    "sync.child", "sync.other", "io.write", "streaming.batch")

  /** The staging directory of a changed-bucket swap in a SQL write plan. */
  private val StageWrite = """file:(\S+?\.parquet)\.__stage__""".r

  /** The layer of a job: the engine's own job label when it carries one;
    * inside a streaming batch, the staging directory it writes (a child
    * table `<collection>_<field>.parquet` is `sync.child`, the main table
    * and the sync state are `sync.stage`); else the span's layer. An
    * operator query owns every job it starts. */
  def layerOf(j: Job, spanLayer: String): String = {
    val d = j.desc
    val table = j.stageDir.split('/').lastOption.getOrElse("")
    if (spanLayer.startsWith("queries.")) spanLayer
    else if (d.startsWith("migrate:profile")) "profile"
    else if (d.startsWith("migrate:write")) "decompose_write"
    else if (d.startsWith("migrate:counts") || d.startsWith("migrate:recon"))
      "workflow_counts"
    else if (d.startsWith("sync:child")) "sync.child"
    else if (d.startsWith("sync:stage-write")) "sync.stage"
    else if (d.startsWith("sync:classify")) "sync.classify"
    else if (d.startsWith("feed:")) "streaming.batch"
    else if (d.startsWith("write:")) "io.write"
    else if (table.startsWith("sync_state_")) "sync.stage"
    else if (table.contains("_")) "sync.child"
    else if (table.nonEmpty) "sync.stage"
    else spanLayer
  }

  private[perfbench] def q(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
}
