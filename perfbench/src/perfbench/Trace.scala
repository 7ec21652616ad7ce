package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Spans around the benchmark's calls into the program. The untraced run
  * uses [[Spans.off]], which only evaluates the body. */
trait Spans {
  def apply[T](name: String)(body: => T): T
}

object Spans {
  val off: Spans = new Spans {
    def apply[T](name: String)(body: => T): T = body
  }
}

/** The program's modules: the layers per-layer metrics are reported for.
  * `functions` and `expressions` are column kernels inside plans, so their
  * cost lands in whichever module runs the plan. */
object Layers {
  val modules: Seq[String] = Seq("sources", "operators", "pipeline", "sinks",
    "streaming", "serve", "tables")

  private val Frame = """^\s*(?:at\s+)?graft\.(\w+)[.$].*""".r

  /** Innermost program module in a multi-line call site (innermost frame
    * first, as Spark writes it), or None. Frames of the benchmark itself
    * are not `graft.*`, so they never match. */
  def of(callSite: String): Option[String] =
    if (callSite == null) None
    else callSite.linesIterator.collectFirst {
      case Frame("Tables") => "tables"
      case Frame(m) if modules.contains(m) => m
    }
}

/** In-memory trace of one traced pass: spans (name, start, end, parent)
  * and Spark jobs and stages attributed to a module. Everything is kept in
  * memory and summarised when the pass ends. */
final class Trace(sc: SparkContext) extends Spans {
  import Trace._

  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val execModule = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  private val parent = new ThreadLocal[Span]()

  def apply[T](name: String)(body: => T): T = {
    val up = Option(parent.get)
    val s = Span(ids.incrementAndGet(), name, up.map(_.id).getOrElse(0L),
      System.currentTimeMillis(), System.nanoTime())
    val prevProp = sc.getLocalProperty(SpanProp)
    parent.set(s)
    sc.setLocalProperty(SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
      spans.add(s)
      parent.set(up.orNull)
      sc.setLocalProperty(SpanProp, prevProp)
    }
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
      val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.details).orNull
      val j = Job(e.jobId, e.time, prop(SpanProp).map(_.toLong).getOrElse(0L),
        prop("spark.sql.execution.id").map(_.toLong), Layers.of(site))
      e.stageIds.foreach(id => stageJob.putIfAbsent(id, e.jobId))
      jobs.put(e.jobId, j)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = Option(i.taskMetrics)
      stages.add(Stage(i.stageId, i.numTasks,
        m.map(_.executorRunTime).getOrElse(0L),
        m.map(_.jvmGCTime).getOrElse(0L),
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L),
        m.map(_.diskBytesSpilled).getOrElse(0L),
        m.map(_.inputMetrics.bytesRead).getOrElse(0L),
        m.map(_.outputMetrics.bytesWritten).getOrElse(0L)))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        Layers.of(s.details).foreach(execModule.put(s.executionId, _))
      case _ =>
    }
  }

  def start(): Unit = sc.addSparkListener(listener)

  /** Detach after every queued event has been delivered. */
  def stop(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
  }

  /** Summarise the pass. `cycles` normalises totals to one cycle of the
    * workload; `cores` is the executor core count; `progress` is the
    * pass's streaming progress. */
  def summary(cycles: Double, cores: Int,
      progress: Seq[StreamingQueryProgress]): Summary = {
    val spanList = spans.asScala.toSeq
    val byId = spanList.map(s => s.id -> s).toMap
    def root(id: Long): Long = byId.get(id) match {
      case Some(s) if s.parent != 0 => root(s.parent)
      case _ => id
    }
    def spanModule(id: Long): Option[String] =
      byId.get(id).flatMap { s =>
        val m = s.name.takeWhile(_ != '.')
        if (Layers.modules.contains(m)) Some(m)
        else if (s.parent != 0) spanModule(s.parent) else None
      }
    val jobList = jobs.values.asScala.toSeq.filter(_.endMs > 0)
    // job → module: own call site, else its SQL execution's call site,
    // else the module of the benchmark span it ran under
    val module: Map[Int, String] = jobList.map { j =>
      j.id -> j.site
        .orElse(j.exec.flatMap(x => Option(execModule.get(x))))
        .orElse(spanModule(j.span))
        .getOrElse("unattributed")
    }.toMap
    val stageList = stages.asScala.toSeq
    def stagesOf(jobIds: Set[Int]) = stageList.filter(s =>
      Option(stageJob.get(s.id)).exists(jobIds.contains))
    Summary(spanList, jobList, module, stageList, stagesOf, root,
      progress, cycles, cores)
  }
}

object Trace {
  val SpanProp = "perfbench.span"

  final case class Span(id: Long, name: String, parent: Long, startMs: Long,
      startNs: Long) {
    @volatile var endMs: Long = 0L
    @volatile var endNs: Long = 0L
    def ms: Double = (endNs - startNs) / 1e6
  }
  final case class Job(id: Int, startMs: Long, span: Long, exec: Option[Long],
      site: Option[String]) {
    @volatile var endMs: Long = 0L
  }
  final case class Stage(id: Int, tasks: Int, runMs: Long, gcMs: Long,
      shuffleWrite: Long, spill: Long, input: Long, output: Long)

  /** Total length of the union of [start, end) intervals, in ms. */
  def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    total + (curE - curS)
  }

  final case class Summary(spans: Seq[Span], jobs: Seq[Job],
      module: Map[Int, String], stages: Seq[Stage],
      stagesOf: Set[Int] => Seq[Stage], root: Long => Long,
      progress: Seq[StreamingQueryProgress], cycles: Double, cores: Int) {

    private def perCycle(v: Double) = v / cycles

    /** `M.*` for every module: totals per cycle. */
    def moduleMetrics: Seq[(String, Double, String)] =
      Layers.modules.flatMap { m =>
        val js = jobs.filter(j => module(j.id) == m)
        val st = stagesOf(js.map(_.id).toSet)
        Seq(
          (s"$m.jobs", perCycle(js.size), "count"),
          (s"$m.busy_s", perCycle(unionMs(js.map(j => j.startMs -> j.endMs)) / 1e3), "s"),
          (s"$m.task_s", perCycle(st.map(_.runMs).sum / 1e3), "s"),
          (s"$m.gc_s", perCycle(st.map(_.gcMs).sum / 1e3), "s"),
          (s"$m.shuffle_write_bytes", perCycle(st.map(_.shuffleWrite).sum), "bytes"),
          (s"$m.spill_bytes", perCycle(st.map(_.spill).sum), "bytes"),
          (s"$m.input_bytes", perCycle(st.map(_.input).sum), "bytes"),
          (s"$m.output_bytes", perCycle(st.map(_.output).sum), "bytes"))
      }

    /** Median duration of the spans called `name`, in ms (0 if none). */
    def spanMs(name: String): Double = Stats.median(
      spans.filter(_.name == name).map(_.ms))

    /** Time inside top-level spans `roots` during which none of their own
      * jobs ran, in ms. */
    def gapMs(roots: Seq[Span]): Double = {
      val jobsByRoot = jobs.groupBy(j => root(j.span))
      roots.map { s =>
        val iv = jobsByRoot.getOrElse(s.id, Nil).map(j =>
          math.max(j.startMs, s.startMs) -> math.min(j.endMs, s.endMs))
        math.max(0L, (s.endMs - s.startMs) - unionMs(iv)).toDouble
      }.sum
    }

    def topSpans: Seq[Span] = spans.filter(_.parent == 0)

    def execMetrics: Seq[(String, Double, String)] = {
      val taskMs = stages.map(_.runMs).sum.toDouble
      val wallMs = unionMs(jobs.map(j => j.startMs -> j.endMs)).toDouble
      Seq(
        ("driver.gap_s", perCycle(gapMs(topSpans) / 1e3), "s"),
        ("exec.stages", perCycle(stages.size), "count"),
        ("exec.tasks", perCycle(stages.map(_.tasks).sum), "count"),
        ("exec.core_utilization",
          if (wallMs > 0) taskMs / (wallMs * cores) else 0.0, "ratio"))
    }

    def streamingMetrics: Seq[(String, Double, String)] = {
      val ps = progress.filter(_.numInputRows > 0)
      def dur(k: String) = Stats.mean(ps.map(p =>
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)))
      def state(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
        ps.lastOption.map(_.stateOperators.map(f).sum).getOrElse(0.0)
      Seq(
        ("streaming.triggers", perCycle(ps.size), "count"),
        ("streaming.add_batch_ms", dur("addBatch"), "ms"),
        ("streaming.query_planning_ms", dur("queryPlanning"), "ms"),
        ("streaming.latest_offset_ms", dur("latestOffset"), "ms"),
        ("streaming.wal_commit_ms", dur("walCommit"), "ms"),
        ("streaming.commit_offsets_ms", dur("commitOffsets"), "ms"),
        ("streaming.state_commit_ms", Stats.mean(ps.map(
          _.stateOperators.map(_.commitTimeMs.toDouble).sum)), "ms"),
        ("streaming.state_rows", state(_.numRowsTotal.toDouble), "rows"),
        ("streaming.state_memory_bytes", state(_.memoryUsedBytes.toDouble), "bytes"))
    }
  }
}
