package perfbench

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** Process byte counters from `/proc/self/io`: `rchar` and `wchar` count
  * every byte this JVM passed through read/write calls — parquet scans,
  * shuffle and spill files alike, whether or not the page cache served
  * them. */
object ProcIo {
  final case class Io(rchar: Long, wchar: Long) {
    def -(o: Io): Io = Io(rchar - o.rchar, wchar - o.wchar)
  }

  def read(): Io = {
    val src = scala.io.Source.fromFile("/proc/self/io")
    try {
      val kv = src.getLines().map(_.split(":\\s*")).collect {
        case Array(k, v) => k -> v.trim.toLong
      }.toMap
      Io(kv("rchar"), kv("wchar"))
    } finally src.close()
  }
}

object Heap {
  /** Live heap in MiB, between ops. Spark frees cached blocks of released
    * plans and broadcasts only after a collection finds their handles
    * unreachable and its cleaner thread drops them, which can take more
    * than one round; the sample is taken after four rounds of a full
    * collection and a pause for the cleaner. */
  def liveMiB(): Double = {
    (1 to 4).foreach { _ => System.gc(); Thread.sleep(100) }
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    m.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of no samples")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** The value at the highest percentile that still has at least ten
    * samples above it: (value, percentile, samples beyond). Below 100
    * samples that percentile is under the 90th, and the maximum is given
    * instead, at percentile 100 with none beyond. */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n < 100) (s.last, 100.0, 0)
    else (s(n - 11), 100.0 * (n - 10) / n, 10)
  }
}

/** One span: a named interval inside an op, with the span that caused
  * it (-1 for an op's root). Times are nanoseconds from the tracer's
  * origin. */
final case class Span(id: Int, op: Int, parent: Int, name: String,
                      start: Long, end: Long) {
  def seconds: Double = (end - start) / 1e9
}

/**
 * Per-op counters of the Spark runtime under an op, taken by a listener
 * the benchmark registers: jobs, completed stages, tasks, Σ executor run
 * and CPU time, shuffle bytes written, the task intervals (for the
 * driver gap) and the planning phases of every query execution.
 */
final class SparkMeter(spark: SparkSession) {
  private val lock = new Object
  private var jobs, stages, tasks, runMs, cpuNs, shuffleBytes = 0L
  private var planMs = 0L
  private val intervals = ArrayBuffer[(Long, Long)]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      lock.synchronized(jobs += 1)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      lock.synchronized(stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      tasks += 1
      intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      val m = e.taskMetrics
      if (m != null) {
        runMs += m.executorRunTime
        cpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = {
      import org.apache.spark.sql.catalyst.QueryPlanningTracker._
      val ph = qe.tracker.phases
      val ms = Seq(ANALYSIS, OPTIMIZATION, PLANNING)
        .flatMap(ph.get).map(_.durationMs).sum
      lock.synchronized(planMs += ms)
    }
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      add(qe)
    override def onFailure(f: String, qe: QueryExecution,
                           e: Exception): Unit = add(qe)
  }

  /** Listen only while a traced op runs. */
  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(planListener)
  }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
  }

  /** Counters since the last call, for an op that ran over the wall-clock
    * interval [t0Ms, t1Ms]. Waits for the op's events first. */
  def take(t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    SparkInternals.drainListenerBus(spark.sparkContext)
    lock.synchronized {
      // time with at least one task running, clipped to the op
      val clipped = intervals.map { case (a, b) =>
        (math.max(a, t0Ms), math.min(b, t1Ms)) }.filter(x => x._2 > x._1)
        .sortBy(_._1)
      var busy = 0L
      var curA = -1L
      var curB = -1L
      clipped.foreach { case (a, b) =>
        if (a > curB) { busy += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      busy += curB - curA
      val out = Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.task_busy_s" -> runMs / 1e3,
        "spark.cpu_s" -> cpuNs / 1e9,
        "spark.driver_gap_s" -> math.max(0L, (t1Ms - t0Ms) - busy) / 1e3,
        "spark.shuffle_bytes" -> shuffleBytes.toDouble,
        "spark.plan_ms" -> planMs.toDouble)
      jobs = 0; stages = 0; tasks = 0; runMs = 0; cpuNs = 0
      shuffleBytes = 0; planMs = 0
      intervals.clear()
      out
    }
  }
}

/**
 * The traced run's recorder: spans kept in memory (written out when the
 * run ends), plus the per-op counters at each layer boundary. With
 * tracing off [[Tracer.span]] is a plain call.
 */
final class Tracer(spark: SparkSession) {
  private val origin = System.nanoTime()
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var op = -1
  val meter = new SparkMeter(spark)
  private var codegen0 = SparkInternals.codegenTotals()

  def beginOp(id: Int): Unit = {
    op = id
    meter.take(0L, 0L)
    meter.attach()
    codegen0 = SparkInternals.codegenTotals()
  }

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    val s = System.nanoTime() - origin
    spans += Span(id, op, parent, name, s, s)
    stack = id :: stack
    try body
    finally {
      stack = stack.tail
      spans(id) = spans(id).copy(end = System.nanoTime() - origin)
    }
  }

  /** Spark and codegen counters of the op that just ended. */
  def endOp(t0Ms: Long, t1Ms: Long): Map[String, Double] = {
    val m = meter.take(t0Ms, t1Ms)
    meter.detach()
    val (n1, ms1) = SparkInternals.codegenTotals()
    val (n0, ms0) = codegen0
    m ++ Map("spark.codegen_ms" -> (ms1 - ms0),
      "spark.codegen_compiles" -> (n1 - n0).toDouble)
  }

  /** Summed duration of the op's spans named `name`. */
  def opSeconds(id: Int, name: String): Double =
    spans.filter(s => s.op == id && s.name == name).map(_.seconds).sum

  /** Self time of every span name: its duration minus the part its
    * children cover, summed over the run. */
  def selfSeconds: Map[String, Double] = {
    val childCover = spans.groupBy(_.parent).map { case (p, cs) =>
      p -> cs.map(_.seconds).sum }
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.seconds - childCover.getOrElse(s.id, 0.0)).sum }
  }

  def write(path: java.nio.file.Path, header: String): Unit = {
    val lines = header +: spans.map { s =>
      s"""{"id":${s.id},"op":${s.op},"parent":${s.parent},""" +
        s""""name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}
