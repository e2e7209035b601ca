package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** One timed interval. Spans nest: `parent` is the enclosing span's id
  * (0 at the top), `op` the operation the span belongs to (0 outside
  * operations). Job spans are the Spark jobs launched under a span. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, var endNs: Long = -1L,
                      var module: String = "")

/** Per (operation, module) task totals. */
final class Acc {
  var cpuNs = 0L; var runNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  var scanBytes = 0L; var tasks = 0L
  val jobs = mutable.Set.empty[Int]
  // per stage: its task run times, for max/median skew
  val stageTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
}

/** In-memory spans plus a Spark listener that attributes every job to
  * a graft source module.
  *
  * Attribution: a job's SQL execution (`spark.sql.execution.id`, else
  * `spark.sql.execution.root.id`) was started from some call stack; the
  * innermost frame of a `graft.` class in that stack names the source
  * file, and the file names the module. Jobs without a SQL execution
  * (RDD jobs such as Spark ML's k-means) use their first stage's call
  * site the same way. A job whose call site has no graft frame counts
  * under the span that launched it. Stage names are not used: under AQE
  * most stages are named after the stage-materialization thread.
  *
  * When `enabled` is false, `span` only runs its body and no listener
  * is registered. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val nextId = new AtomicLong(1)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = new ThreadLocal[List[Span]] { override def initialValue() = Nil }
  @volatile var currentOp = 0L

  private val execSite = new ConcurrentHashMap[Long, String]()
  private val jobInfo = new ConcurrentHashMap[Int, (Long, String)]() // job -> (op, module)
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageFile = new ConcurrentHashMap[Int, Boolean]()       // stage scans files
  private val spanById = new ConcurrentHashMap[Long, Span]()
  val accs = new ConcurrentHashMap[(Long, String), Acc]()
  private val lastEvent = new AtomicLong(System.nanoTime())
  private val openJobs = new AtomicLong(0)

  /** Runs `body` as a span named `name`; returns its result and its
    * duration in seconds. */
  def timed[A](name: String)(body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = span(name)(body)
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def span[A](name: String)(body: => A): A = {
    if (!enabled) return body
    val parent = stack.get.headOption
    val s = Span(nextId.getAndIncrement(), name, parent.map(_.id).getOrElse(0L),
      currentOp, System.nanoTime())
    spans.synchronized(spans += s)
    spanById.put(s.id, s)
    stack.set(s :: stack.get)
    val prev = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
    try body
    finally {
      s.endNs = System.nanoTime()
      stack.set(stack.get.tail)
      sc.setLocalProperty(Tracer.SpanProp, prev)
    }
  }

  private val listener = new SparkListener {
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execSite.put(s.executionId, s.details); touch()
      case _ => ()
    }
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      touch(); openJobs.incrementAndGet()
      val p = j.properties
      def prop(k: String) = Option(p).flatMap(x => Option(x.getProperty(k)))
      val span = prop(Tracer.SpanProp).map(_.toLong).flatMap(id => Option(spanById.get(id)))
      val site = Seq("spark.sql.execution.id", "spark.sql.execution.root.id")
        .flatMap(prop).flatMap(id => Option(execSite.get(id.toLong))).headOption
        .orElse(j.stageInfos.sortBy(_.stageId).headOption.map(_.details))
      val module = site.flatMap(Tracer.moduleOf)
        .getOrElse(span.map(s => s"span:${s.name}").getOrElse("span:none"))
      val op = span.map(_.op).getOrElse(0L)
      jobInfo.put(j.jobId, (op, module))
      j.stageIds.foreach(st => stageJob.putIfAbsent(st, j.jobId))
      j.stageInfos.foreach(si =>
        stageFile.put(si.stageId, si.rddInfos.exists(_.name.contains("FileScanRDD"))))
      span.foreach { s =>
        val js = Span(nextId.getAndIncrement(), s"job ${j.jobId}", s.id, s.op,
          System.nanoTime(), module = module)
        spans.synchronized(spans += js)
        jobSpans.put(j.jobId, js)
      }
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      touch(); openJobs.decrementAndGet()
      Option(jobSpans.remove(j.jobId)).foreach(_.endNs = System.nanoTime())
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      touch()
      val m = t.taskMetrics
      if (m == null) return
      val job = Option(stageJob.get(t.stageId))
      val (op, module) = job.flatMap(j => Option(jobInfo.get(j))).getOrElse((0L, "span:none"))
      if (op == 0L) return // not from a traced operation
      val a = accs.computeIfAbsent((op, module), _ => new Acc)
      a.synchronized {
        a.cpuNs += m.executorCpuTime + m.executorDeserializeCpuTime
        a.runNs += m.executorRunTime * 1000000L
        a.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        a.spillBytes += m.diskBytesSpilled
        if (stageFile.getOrDefault(t.stageId, false)) a.scanBytes += m.inputMetrics.bytesRead
        a.tasks += 1
        job.foreach(a.jobs += _)
        a.stageTimes.getOrElseUpdate(t.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
      }
    }
  }
  private val jobSpans = new ConcurrentHashMap[Int, Span]()

  private def touch(): Unit = lastEvent.set(System.nanoTime())

  if (enabled) sc.addSparkListener(listener)

  /** Waits until the listener bus has delivered the events of every
    * finished job (no open jobs and 300 ms without events, at most 10 s). */
  def drain(): Unit = if (enabled) {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() < deadline &&
      (openJobs.get > 0 || System.nanoTime() - lastEvent.get < 300000000L))
      Thread.sleep(20)
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)

  def allSpans: Seq[Span] = spans.synchronized(spans.toList)

  /** Self time per span name, summed over spans: a span's duration less
    * its child spans' (jobs overlap their parent span, so only
    * non-job children are subtracted). */
  def selfTimes: Map[String, Double] = {
    val all = allSpans.filter(s => s.endNs >= 0 && !s.name.startsWith("job "))
    val childSum = all.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(c => c.endNs - c.startNs).sum }
    all.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childSum.getOrElse(s.id, 0L)).sum / 1e9 }
  }

  /** Trace as JSON lines: one object per span. */
  def spansJson: Seq[String] = allSpans.map { s =>
    s"""{"id":${s.id},"name":${Json.str(s.name)},"parent":${s.parent},"op":${s.op},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"module":${Json.str(s.module)}}"""
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  private val Frame = """\s*graft\.([\w.$]+)\(([\w]+)\.scala:\d+\)""".r

  /** The module of the innermost graft frame in a long-form call site. */
  def moduleOf(callSite: String): Option[String] =
    Option(callSite).iterator.flatMap(_.split("\n")).collectFirst {
      case Frame(cls, file) => moduleOfFile(cls, file)
    }

  /** graft source file (and class) -> module of the per-module metrics. */
  def moduleOfFile(cls: String, file: String): String =
    if (Seq("Approx", "SubstringDedup", "TrainingData", "Sampling", "Packing").contains(file)) file
    else if (cls.startsWith("ops.")) "ops"
    else if (cls.startsWith("sources.")) "sources"
    else "graft_other"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
