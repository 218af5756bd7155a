package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.perfbench.SparkInternals
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** One closed-loop operation: a request batch ("read"), an index build
  * and its queries ("build"), or a commit. */
final case class OpRecord(id: Int, kind: String, wall: Double, queries: Int,
                          io: ProcIo.Io, ok: Boolean,
                          layers: Map[String, Double])

/** What a workload hands back besides its op records. */
final case class Outcome(recall: Double,
                         extras: Seq[(String, Double, String)],
                         layers: Map[String, Double],
                         selfChecks: Seq[(String, Boolean)])

/**
 * Shared state of one run: the session, the seed, the timed op log and,
 * in a traced run, the tracer.
 */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val tracer: Option[Tracer], val work: Path) {
  val ops = ArrayBuffer[OpRecord]()
  private val failedIds = scala.collection.mutable.Set[Int]()
  var peakHeapMiB = 0.0
  private var loopStart = 0L

  // spans are kept through set-up (op -1) and for each traced op
  private var spansOn = tracer.isDefined

  def span[T](name: String)(body: => T): T = tracer match {
    case Some(t) if spansOn => t.span(name)(body)
    case _ => body
  }

  /** The traced run alternates traced and untraced ops (the pairs give
    * the tracing overhead), so each schedule slot runs twice there. */
  def slot(i: Int): Int = if (tracer.isDefined) i / 2 else i
  /** Op `i` replays the inputs of its twin. */
  def twin(i: Int): Boolean = tracer.isDefined && i % 2 == 1
  /** Twins alternate which of them is traced, so neither order wins. */
  def tracedOp(id: Int): Boolean =
    tracer.isDefined && id % 2 == (id / 2) % 2

  /** Seconds the timed loop ran, once it has ended. */
  var loopS = 0.0

  /** Compile totals when the timed loop began. */
  var codegenAtLoop = (0L, 0.0)

  def startLoop(): Unit = {
    spansOn = false
    codegenAtLoop = SparkInternals.codegenTotals()
    Log.stamp("loop starts")
    loopStart = System.nanoTime()
  }

  /** Whether to start op `i`: while the loop has time left, and past it
    * to finish the current cycle of `cycle` schedule slots (and, when
    * traced, the untraced twin of a traced op), so every run measures
    * whole cycles of its op mix. */
  def continue(i: Int, cycle: Int = 1): Boolean = {
    loopS = (System.nanoTime() - loopStart) / 1e9
    val midCycle = (tracer.isDefined && i % 2 == 1) || slot(i) % cycle != 0
    val go = loopS < seconds || midCycle
    if (!go) Log.stamp(f"loop ends after $loopS%.1f s")
    go
  }

  /** Run one timed op; its value if it completed. A thrown op is a
    * failure and never a latency sample. The live heap is sampled after
    * the op, outside its timing. */
  def op[T](kind: String, queries: Int)(body: => T): Option[T] = {
    val id = ops.size
    val traced = tracedOp(id)
    if (traced) tracer.get.beginOp(id)
    spansOn = traced
    val io0 = ProcIo.read()
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val r = try Right(span(s"op.$kind")(body))
      catch { case e: Throwable => Left(e) }
    val wall = (System.nanoTime() - t0) / 1e9
    val ms1 = System.currentTimeMillis()
    val io = ProcIo.read() - io0
    spansOn = false
    val layers =
      if (!traced) Map.empty[String, Double]
      else tracer.get.endOp(ms0, ms1) ++ Map(
        "io.read_bytes" -> io.rchar.toDouble,
        "io.write_bytes" -> io.wchar.toDouble)
    r.left.foreach { e =>
      System.err.println(s"[perfbench] op $id ($kind) failed: $e")
      failedIds += id
    }
    ops += OpRecord(id, kind, wall, queries, io, r.isRight, layers)
    val heap = Heap.liveMiB()
    Log.stamp(f"op $id ($kind) took $wall%.3f s, live heap $heap%.1f MiB")
    peakHeapMiB = math.max(peakHeapMiB, heap)
    r.toOption
  }

  /** Mark an op whose result failed its check. */
  def fail(id: Int, why: String): Unit = {
    System.err.println(s"[perfbench] op $id failed its check: $why")
    failedIds += id
  }

  def failed(id: Int): Boolean = failedIds(id)

  def addLayers(id: Int, m: Map[String, Double]): Unit =
    ops(id) = ops(id).copy(layers = ops(id).layers ++ m)

  def nextOpId: Int = ops.size
}

/**
 * The benchmark's JVM entry point.
 *
 *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
 *                  --work <dir>
 *
 * Prints a report of every metric by name and unit, then one JSON line
 * (the last line of stdout) with the end-to-end metrics, or with the
 * per-layer metrics when tracing.
 */
object Main {
  val Workloads = Seq("refine_at_rest", "serve_mutating")

  val EndToEnd: Seq[(String, String)] = Seq(
    "request_p50_s" -> "s", "request_tail_s" -> "s",
    "throughput_qps" -> "1/s", "read_bytes_per_query" -> "B",
    "write_bytes_per_query" -> "B", "recall_at_k" -> "ratio",
    "setup_s" -> "s", "peak_heap_mb" -> "MiB")

  /** Per-layer metrics and their units; a layer a workload never calls
    * reads 0. */
  val PerLayer: Seq[(String, String)] = Seq(
    "Refine.call_s" -> "s", "Refine.action_s" -> "s",
    "Refine.fetched_rows" -> "count", "Refine.survivor_ratio" -> "ratio",
    "Refine.saving_modeled" -> "ratio", "Refine.latency_share" -> "ratio",
    "TopK.window_s" -> "s",
    "Disaggregated.write_s" -> "s", "Disaggregated.cheap_bytes" -> "B",
    "Disaggregated.full_bytes" -> "B", "Disaggregated.commit_s" -> "s",
    "Disaggregated.commit_write_bytes" -> "B",
    "Search.call_s" -> "s", "Search.action_s" -> "s",
    "Pq.call_s" -> "s", "Pq.action_s" -> "s", "Pq.jobs" -> "count",
    "Pq.task_busy_s" -> "s", "Pq.cpu_s" -> "s", "Pq.shuffle_bytes" -> "B",
    "Pq.codegen_ms" -> "ms",
    "spark.jobs" -> "count", "spark.stages" -> "count",
    "spark.tasks" -> "count", "spark.task_busy_s" -> "s",
    "spark.cpu_s" -> "s", "spark.driver_gap_s" -> "s",
    "spark.shuffle_bytes" -> "B", "spark.plan_ms" -> "ms",
    "spark.codegen_ms" -> "ms", "spark.codegen_compiles" -> "count",
    "io.read_bytes" -> "B", "io.write_bytes" -> "B",
    "setup.session_s" -> "s", "setup.data_s" -> "s",
    "setup.warmup_s" -> "s", "setup.codegen_ms" -> "ms",
    "setup.codegen_compiles" -> "count",
    "trace.overhead_ratio" -> "ratio", "trace.spans" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    Files.createDirectories(work)

    val jvmStartMs = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getStartTime
    val spark = Session.create(work)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, tracer, work)
    val (cg0, cgMs0) = SparkInternals.codegenTotals()

    val setup = new SetupClock(ctx)
    val outcome = workload match {
      case "refine_at_rest" => new RefineAtRest(ctx, setup).run()
      case "serve_mutating" => new ServeMutating(ctx, setup).run()
    }
    val setupS = sessionS + setup.dataS + setup.warmupS
    Log.stamp("workload done")

    val ops = ctx.ops.toSeq
    val good = ops.filter(o => o.ok && !ctx.failed(o.id))
    val reads = good.filter(_.kind != "commit")
    require(reads.nonEmpty, "no read op completed")
    val lat = reads.map(_.wall)
    val (tailV, tailPct, tailBeyond) = Stats.tail(lat)
    val nQueries = reads.map(_.queries).sum.toDouble
    val timedWall = ops.map(_.wall).sum
    val failedN = ops.count(o => !o.ok || ctx.failed(o.id))
    val e2e = Map(
      "request_p50_s" -> Stats.median(lat),
      "request_tail_s" -> tailV,
      "throughput_qps" -> nQueries / timedWall,
      "read_bytes_per_query" -> ops.map(_.io.rchar).sum / nQueries,
      "write_bytes_per_query" -> ops.map(_.io.wchar).sum / nQueries,
      "recall_at_k" -> outcome.recall,
      "setup_s" -> setupS,
      "peak_heap_mb" -> ctx.peakHeapMiB)
    val report = Seq(
      ("error_rate", failedN.toDouble / ops.size, "ratio"),
      ("request_tail_percentile", tailPct, "%"),
      ("request_tail_samples_beyond", tailBeyond.toDouble, "count"),
      ("read_ops", reads.size.toDouble, "count"),
      ("all_ops", ops.size.toDouble, "count"),
      ("setup_session_s", sessionS, "s"),
      ("setup_data_s", setup.dataS, "s"),
      ("setup_warmup_s", setup.warmupS, "s"),
      ("loop_s", ctx.loopS, "s")) ++ outcome.extras

    println(s"# perfbench workload=$workload seed=$seed seconds=$seconds " +
      s"trace=${if (traced) 1 else 0} cores=${Session.cores}")
    EndToEnd.foreach { case (n, u) => println(f"$n%-34s ${e2e(n)}%s $u") }
    report.foreach { case (n, v, u) => println(f"$n%-34s $v%s $u") }
    outcome.selfChecks.foreach { case (n, ok) =>
      println(f"self_check $n%-23s ${if (ok) "pass" else "FAIL"}") }

    val metrics: Seq[(String, Double, String)] = tracer match {
      case None => EndToEnd.map { case (n, u) => (n, e2e(n), u) }
      case Some(t) =>
        // per-op layer values, as medians over the ops that carry them;
        // the runtime counters over the request ops only
        val perOp = PerLayer.map(_._1).map { n =>
          val from =
            if (n.startsWith("spark.") || n.startsWith("io."))
              good.filter(_.kind == "read")
            else good
          val vs = from.flatMap(_.layers.get(n))
          n -> (if (vs.isEmpty) 0.0 else Stats.median(vs))
        }.toMap
        val (cg1, cgMs1) = ctx.codegenAtLoop
        val fixed = Map(
          "setup.session_s" -> sessionS,
          "setup.data_s" -> setup.dataS,
          "setup.warmup_s" -> setup.warmupS,
          // compiles before the timed loop (data and warm-up)
          "setup.codegen_ms" -> (cgMs1 - cgMs0),
          "setup.codegen_compiles" -> (cg1 - cg0).toDouble,
          // traced against untraced request latency, same run
          "trace.overhead_ratio" -> {
            val (tr, un) = reads.partition(o => ctx.tracedOp(o.id))
            if (tr.isEmpty || un.isEmpty) 0.0
            else Stats.median(tr.map(_.wall)) / Stats.median(un.map(_.wall)) -
              1.0
          },
          "trace.spans" -> t.spans.size.toDouble)
        val all = perOp ++ outcome.layers ++ fixed
        val self = t.selfSeconds
        self.toSeq.sortBy(_._1).foreach { case (n, s) =>
          println(f"self_s $n%-27s $s%.4f s") }
        val tracePath = work.getParent.getParent.resolve("traces")
          .resolve(s"$workload-seed$seed.jsonl")
        t.write(tracePath,
          s"""{"workload":"$workload","seed":$seed,"seconds":$seconds}""")
        println(s"# spans written to $tracePath")
        PerLayer.map { case (n, u) => (n, all.getOrElse(n, 0.0), u) }
    }
    if (traced) PerLayer.foreach { case (n, u) =>
      println(f"$n%-34s ${metrics.find(_._1 == n).get._2}%s $u") }

    val correct = failedN == 0 && outcome.selfChecks.forall(_._2)
    val body = metrics.map { case (n, v, u) =>
      require(!v.isNaN && !v.isInfinite, s"metric $n is $v")
      s""""$n":{"value":$v,"unit":"$u"}""" }.mkString(",")
    Log.stamp("stopping")
    spark.stop()
    Log.stamp("stopped")
    println(s"""{"correct":$correct,"attempted":${ops.size},""" +
      s""""failed":$failedN,"metrics":{$body}}""")
  }
}

/** Progress lines on stderr, stamped with seconds since JVM start. */
object Log {
  private val t0 = java.lang.management.ManagementFactory.getRuntimeMXBean
    .getStartTime
  def stamp(what: String): Unit = System.err.println(
    f"[perfbench] $what at ${(System.currentTimeMillis() - t0) / 1e3}%.1f s")
}

/** Set-up time split into data preparation and warm-up ops. The layout
  * write is repeated [[SetupClock.DataReps]] times, each rep into its own
  * directory, and its median counts; the last rep is the one used. */
final class SetupClock(ctx: Ctx) {
  var dataS = 0.0
  var warmupS = 0.0
  def once[T](body: => T): T = {
    val t0 = System.nanoTime()
    try ctx.span("setup.data")(body)
    finally dataS += (System.nanoTime() - t0) / 1e9
  }
  def data[T](body: Int => T): T = {
    val (ts, rs) = (0 until SetupClock.DataReps).map { rep =>
      val t0 = System.nanoTime()
      val r = ctx.span("setup.data")(body(rep))
      ((System.nanoTime() - t0) / 1e9, r)
    }.unzip
    dataS += Stats.median(ts)
    Log.stamp("data prepared")
    rs.last
  }
  def warmup[T](body: => T): T = {
    val t0 = System.nanoTime()
    try ctx.span("setup.warmup")(body)
    finally {
      warmupS += (System.nanoTime() - t0) / 1e9
      Log.stamp("warm-up done")
    }
  }
}

object SetupClock {
  val DataReps = 3
}

/** The session `graft.Bench` builds, at local[nproc], with every file it
  * writes kept under the run's work directory. */
object Session {
  val cores: Int = Runtime.getRuntime.availableProcessors()

  def create(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "true")
      .config("spark.sql.codegen.cache.maxEntries", "1000")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
        "10000000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    s
  }
}
