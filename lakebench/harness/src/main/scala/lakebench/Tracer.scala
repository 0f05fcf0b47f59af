package lakebench

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import scala.collection.immutable.ListMap
import scala.collection.mutable

/** Spark-side work counted for one span, or for the whole run. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var outputBytes = 0L
  var peakExecMem = 0L

  def addTask(m: TaskMetrics): Unit = {
    tasks += 1
    taskMs += m.executorRunTime
    cpuNs += m.executorCpuTime
    shuffleBytes += m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    inputBytes += m.inputMetrics.bytesRead
    inputRecords += m.inputMetrics.recordsRead
    outputBytes += m.outputMetrics.bytesWritten
    peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
  }

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    cpuNs += o.cpuNs; shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRecords += o.inputRecords
    outputBytes += o.outputBytes; peakExecMem = math.max(peakExecMem, o.peakExecMem)
  }

  def copy(): Counters = { val c = new Counters; c += this; c }

  def -(o: Counters): Counters = {
    val c = new Counters
    c.jobs = jobs - o.jobs; c.stages = stages - o.stages; c.tasks = tasks - o.tasks
    c.taskMs = taskMs - o.taskMs; c.cpuNs = cpuNs - o.cpuNs
    c.shuffleBytes = shuffleBytes - o.shuffleBytes; c.spillBytes = spillBytes - o.spillBytes
    c.inputBytes = inputBytes - o.inputBytes; c.inputRecords = inputRecords - o.inputRecords
    c.outputBytes = outputBytes - o.outputBytes; c.peakExecMem = peakExecMem
    c
  }

  def toMap: ListMap[String, Any] = ListMap(
    "jobs" -> jobs, "stages" -> stages, "tasks" -> tasks, "task_s" -> taskMs / 1e3,
    "task_cpu_s" -> cpuNs / 1e9, "shuffle_bytes" -> shuffleBytes, "spill_bytes" -> spillBytes,
    "input_bytes" -> inputBytes, "input_records" -> inputRecords,
    "output_bytes" -> outputBytes, "peak_exec_mem_mb" -> peakExecMem / 1048576.0)
}

/** One timed region around a call into a layer. Times are epoch
  * milliseconds, the clock Spark stamps its job events with. `self` holds
  * the work of the jobs launched directly inside this span, not inside a
  * child span. */
final class Span(
    val name: String, val trace: String, val id: Long, val parent: Long, val startMs: Double) {
  var endMs: Double = Double.NaN
  val self = new Counters
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Attributes every Spark job to the span that launched it.
  *
  * `span` stores the open span's id in a SparkContext local property before
  * calling into the engine. Spark copies local properties into every job
  * and stage it starts from that thread, including the broadcast and
  * subquery jobs of one query, so the listener finds the span in the
  * event. A job without the property (started from a thread that never
  * inherited it) while tracing is on is counted as unattributed, with its
  * call site, and in no span. With tracing off no span is opened, no
  * property is set, and only run-wide totals are kept. */
final class Tracer(sc: SparkContext) extends SparkListener {
  import Tracer.SpanKey

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.HashMap.empty[Long, Span]
  private val stageSpan = mutable.HashMap.empty[Int, Span]
  private val jobSpan = mutable.HashMap.empty[Int, (Span, Long)]
  private var open: List[Span] = Nil
  private val clock0Ms = System.currentTimeMillis().toDouble
  private val clock0Ns = System.nanoTime()
  /** Every job, stage and task of the run. */
  val total = new Counters
  /** Whether `span` records spans; off, it only runs its body. */
  @volatile var tracing = false
  /** Jobs started without a span property while tracing was on. */
  var unattributedJobs = 0L
  /** Call site, stage count and start of each of those jobs (epoch ms,
    * the clock of the spans' start_ms and end_ms), so each can be named. */
  val unattributedCallSites = mutable.ArrayBuffer.empty[String]

  sc.addSparkListener(this)

  def nowMs: Double = clock0Ms + (System.nanoTime() - clock0Ns) / 1e6

  def span[A](name: String, trace: String = "")(body: => A): A =
    if (!tracing) body
    else {
      val parent = open.headOption
      val s = synchronized {
        val sp = new Span(name, parent.map(_.trace).getOrElse(trace), spans.size + 1L,
          parent.map(_.id).getOrElse(0L), nowMs)
        spans += sp; byId(sp.id) = sp; sp
      }
      open = s :: open
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.endMs = nowMs
        open = open.tail
        sc.setLocalProperty(SpanKey, open.headOption.map(_.id.toString).orNull)
      }
    }

  def drain(): Unit = org.apache.spark.LakebenchBus.drain(sc)

  def snapshot(): Counters = { drain(); synchronized(total.copy()) }

  def allSpans: Seq[Span] = synchronized(spans.toList)

  private def spanOf(props: java.util.Properties): Option[Span] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).flatMap(id => byId.get(id.toLong))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    val owner = spanOf(e.properties)
    if (owner.isEmpty && tracing) {
      unattributedJobs += 1
      val site = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .orElse(e.stageInfos.headOption.map(_.name)).getOrElse("?")
      unattributedCallSites += s"$site (job ${e.jobId}, ${e.stageIds.size} stages, start_ms ${e.time})"
    }
    owner.foreach { s =>
      s.self.jobs += 1
      jobSpan(e.jobId) = (s, e.time)
      e.stageIds.foreach(stageSpan(_) = s)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach { case (s, start) => s.jobIntervals += (start -> e.time) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    total.stages += 1
    stageSpan.get(e.stageInfo.stageId).foreach(_.self.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(e.taskMetrics).foreach { m =>
      total.addTask(m)
      stageSpan.get(e.stageId).foreach(_.self.addTask(m))
    }
  }
}

object Tracer {
  val SpanKey = "lakebench.span"

  /** Length of the union of `intervals`, each clipped to [lo, hi]. */
  def unionLength(intervals: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    clipped.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    covered
  }

  /** Derived numbers for every span: inclusive counters (own jobs plus
    * every descendant's), self time (its time minus the union of its
    * children's) and driver gap (its time minus the union of the intervals
    * of every job inside it). */
  final case class Derived(span: Span, inclusive: Counters, selfSeconds: Double, driverGapSeconds: Double)

  def derive(spans: Seq[Span]): Seq[Derived] = {
    val children = spans.groupBy(_.parent)
    def subtree(s: Span): Seq[Span] = s +: children.getOrElse(s.id, Nil).flatMap(subtree)
    spans.map { s =>
      val tree = subtree(s)
      val inc = new Counters
      tree.foreach(t => inc += t.self)
      val kids = children.getOrElse(s.id, Nil).map(k => (k.startMs, k.endMs))
      val jobs = tree.flatMap(_.jobIntervals).map { case (a, b) => (a.toDouble, b.toDouble) }
      Derived(s, inc,
        (s.endMs - s.startMs - unionLength(kids, s.startMs, s.endMs)) / 1e3,
        (s.endMs - s.startMs - unionLength(jobs, s.startMs, s.endMs)) / 1e3)
    }
  }
}
