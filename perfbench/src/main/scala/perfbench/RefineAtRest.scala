package perfbench

import graft.SparkEntry
import graft.functions.Fp16
import graft.operators.{Dedup, Refine, TopK}
import graft.sources.Disaggregated
import org.apache.spark.sql.functions.col

/**
 * refine_at_rest — the paper's operator on its §3.3 layout: a seeded
 * N(0,1) FP16 corpus written once by `Disaggregated.write`, then
 * `Disaggregated.refineTopK` on a fresh seeded batch of queries per op,
 * cycling through the six `Refine.Modes`.
 */
final class RefineAtRest(ctx: Ctx, setup: SetupClock) {
  import RefineAtRest._
  private val spark = ctx.spark
  import spark.implicits._

  private val rng = new Gen(ctx.seed)

  /** A fresh batch of fp16-exact N(0,1) queries, qids 0 until NQ. */
  private def queryBatch(): Seq[(Long, Array[Float])] =
    (0 until NQ).map(j =>
      j.toLong -> Array.fill(D)(Fp16.roundTrip(rng.gaussian().toFloat)))

  def run(): Outcome = {
    val (layout, writeS) = setup.data { rep =>
      val path = ctx.work.resolve(s"disagg-$rep").toString
      val t0 = System.nanoTime()
      ctx.span("Disaggregated.write")(Disaggregated.write(
        graft.Fixture.gaussianVectors(spark, N, D, KeepM, ctx.seed)
          .select(col("id"), col("vec")),
        path, KeepM))
      (path, (System.nanoTime() - t0) / 1e9)
    }
    val footer = Footer.columnBytes(spark, layout)
    val cheapBytes = Seq("id", "rvec", "delta", "bb").map(footer(_)).sum
    val fullBytes = footer("vec")

    val stored = spark.read.parquet(layout)
    def request(q: Seq[(Long, Array[Float])], p: Refine.Params)
        : Array[org.apache.spark.sql.Row] = {
      val qdf = q.toDF("qid", "qvec")
      val (df, release) = ctx.span("Refine.call")(Dedup.scopedRelease(
        Disaggregated.refineTopK(spark, layout, qdf, p)))
      try ctx.span("Refine.action")(df.collect()) finally release()
    }
    def bareRequest(q: Seq[(Long, Array[Float])], p: Refine.Params): Unit = {
      val (df, release) = Dedup.scopedRelease(
        Disaggregated.refineTopK(spark, layout, q.toDF("qid", "qvec"), p))
      try df.collect() finally release()
    }
    // one brute-force full-precision scan of `vec`: the bandwidth base
    def bruteScan(q: Seq[(Long, Array[Float])]): Long = {
      val io0 = ProcIo.read()
      Refine.exactTopK(stored.select(col("id"), col("vec")),
        q.toDF("qid", "qvec"), SparkEntry.refineParams("cos_l1")).collect()
      (ProcIo.read() - io0).rchar
    }
    // warm-up: every mode once, concurrently (codegen and class loading
    // are mostly single-threaded per op), then the scan
    val scanRchar = setup.warmup {
      val wq = queryBatch()
      Concurrently.run(Refine.Modes.map(m =>
        () => bareRequest(wq, SparkEntry.refineParams(m))))
      bruteScan(wq)
      bruteScan(wq)
    }

    val issued = scala.collection.mutable.ArrayBuffer[
      (Int, String, Seq[(Long, Array[Float])], Map[Long, Seq[Long]])]()
    ctx.startLoop()
    var i = 0
    var q: Seq[(Long, Array[Float])] = Seq.empty
    while (ctx.continue(i, Refine.Modes.size)) {
      val mode = Refine.Modes(ctx.slot(i) % Refine.Modes.size)
      val p = SparkEntry.refineParams(mode)
      if (!ctx.twin(i)) q = queryBatch()
      val id = ctx.nextOpId
      ctx.op("read", NQ)(request(q, p)).foreach { rows =>
        issued += ((id, mode, q, rows.toSeq
          .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("id"))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }))
      }
      i += 1
    }

    // layer accounting on the inputs of the first traced op, outside the
    // op timing, in the traced run only: every mode's modeled funnel from
    // one fused `Refine.metricsModes` pass, and that op's own fetched
    // split (its row count is checked against the model)
    val model = scala.collection.mutable.Map[String, (Double, Double)]()
    var fetchedMatchesModel = true
    if (ctx.tracer.isDefined)
      issued.find(x => ctx.tracedOp(x._1)).foreach { case (id, mode, q, _) =>
        val qdf = q.toDF("qid", "qvec")
        Refine.metricsModes(stored, qdf, Refine.Modes.map(
            SparkEntry.refineParams), D).collect()
          .foreach(r => model(r.getAs[String]("mode")) =
            (r.getAs[Double]("save"), r.getAs[Double]("fpr")))
        // the op's fetched split, materialized, and the top-K window over
        // it: the window's own action time (second run; the first
        // compiles)
        val p = SparkEntry.refineParams(mode)
        val (fdf, release) = Dedup.scopedRelease(Refine.fetchedSplit(
          Dedup.persistScoped(Refine.cheapSideStored(stored, p)),
          stored.select(col("id"), col("vec")), qdf, p))
        val (fetched, windowS) = try {
          val mat = fdf.persist()
          try {
            val n = mat.count()
            val win = TopK.window(mat.withColumnRenamed("s_full", "score"),
              p.k, ascending = !p.isCos)
            win.collect()
            val t0 = System.nanoTime()
            win.collect()
            (n, (System.nanoTime() - t0) / 1e9)
          } finally mat.unpersist()
        } finally release()
        val (save, fpr) = model(mode)
        fetchedMatchesModel =
          math.round(fpr * N * NQ) + K.toLong * NQ == fetched
        ctx.addLayers(id, Map(
          "Refine.fetched_rows" -> fetched.toDouble,
          "Refine.survivor_ratio" ->
            (fetched - K.toDouble * NQ) / (N.toDouble * NQ),
          "Refine.saving_modeled" -> save,
          "TopK.window_s" -> windowS))
      }
    ctx.tracer.foreach { t =>
      ctx.ops.filter(o => o.ok && o.layers.nonEmpty).foreach { o =>
        val call = t.opSeconds(o.id, "Refine.call")
        val action = t.opSeconds(o.id, "Refine.action")
        ctx.addLayers(o.id, Map("Refine.call_s" -> call,
          "Refine.action_s" -> action,
          "Refine.latency_share" -> (call + action) / o.wall))
      }
    }

    Log.stamp("checking results")
    // result check against Refine.exactTopK, one batch per metric family
    var hits = 0L
    Seq(true, false).foreach { cos =>
      val mine = issued.filter(x => Refine.CosModes.contains(x._2) == cos)
      if (mine.nonEmpty) {
        val gq = mine.toSeq.flatMap { case (id, _, q, _) =>
          q.map { case (qid, v) => (id.toLong * NQ + qid, v) } }
        val p = SparkEntry.refineParams(if (cos) "cos_l1" else "l2_sym")
        val exact = Refine.exactTopK(stored.select(col("id"), col("vec")),
            gq.toDF("qid", "qvec"), p).collect()
          .map(r => r.getAs[Long]("qid") -> r.getAs[Long]("id"))
          .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
        mine.foreach { case (id, mode, _, got) =>
          (0 until NQ).foreach { j =>
            val want = exact.getOrElse(id.toLong * NQ + j, Set.empty[Long])
            val ids = got.getOrElse(j.toLong, Seq.empty)
            val h = ids.toSet.intersect(want).size
            hits += h
            if (ids.size != K || ids.distinct.size != K)
              ctx.fail(id, s"$mode qid $j returned ${ids.size} rows")
            else if (ZeroMiss(mode) && ids.toSet != want)
              ctx.fail(id, s"$mode qid $j misses ${K - h} exact ids")
          }
        }
      }
    }
    val recall = hits.toDouble / (K.toLong * NQ * math.max(1, issued.size))

    val reads = ctx.ops.filter(o => o.ok && !ctx.failed(o.id))
    val saving = 1.0 - Stats.median(reads.map(_.io.rchar.toDouble).toSeq) /
      scanRchar
    // the measured scan must match the bytes the footers give for the
    // column chunks it reads, (id, vec)
    val scanRatio = scanRchar.toDouble / (footer("id") + fullBytes)
    Outcome(recall,
      Seq(("bandwidth_saving", saving, "ratio")) ++
      model.toSeq.sortBy(_._1).map { case (m, (save, _)) =>
        (s"saving_modeled_$m", save, "ratio") } ++
      Seq(("brute_scan_bytes", scanRchar.toDouble, "B"),
        ("brute_scan_vs_footer_id_vec", scanRatio, "ratio")),
      Map("Disaggregated.write_s" -> writeS,
        "Disaggregated.cheap_bytes" -> cheapBytes.toDouble,
        "Disaggregated.full_bytes" -> fullBytes.toDouble),
      Seq(s"scan_rchar_within_${ScanBand._1}-${ScanBand._2}_of_footer" ->
        (scanRatio >= ScanBand._1 && scanRatio <= ScanBand._2),
        "fetched_split_rows_equal_the_model" -> fetchedMatchesModel))
  }
}

object RefineAtRest {
  val N = 20000
  val D = 128
  val NQ = 10
  val K: Int = SparkEntry.K
  val KeepM: Int = SparkEntry.KeepM
  val ZeroMiss = Set("cos_l1", "cos_l2", "l2_sym", "l2_tz")
  /** Accepted band for (rchar of one brute-force scan) ÷ (footer bytes of
    * the `id` and `vec` column chunks it reads). */
  val ScanBand = (0.95, 1.15)
}
