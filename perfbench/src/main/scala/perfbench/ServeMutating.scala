package perfbench

import graft.SparkEntry
import graft.operators.{Dedup, Pq, Search}
import graft.sources.Disaggregated
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}

/**
 * serve_mutating — the hybrid tiered serve over a seeded corpus shaped
 * like the sf0.1 `documents`/`embeddings` tables: request batches served
 * by `Search.serveRequestsTieredOff` off an id-bucketed tiered layout,
 * with update and delete commits and an IVF-PQ index rebuild
 * (`Pq.topkSphericalResidual` over the live vectors) at fixed shares of
 * the ops.
 */
final class ServeMutating(ctx: Ctx, setup: SetupClock) {
  import ServeMutating._
  private val spark = ctx.spark
  import spark.implicits._

  private val rng = new Gen(ctx.seed)
  private var sfDir = ""
  private var layout = ""

  // the serving state the checks compare against
  private val docLang = Array.fill(NDocs)(pickLang())
  private val texts: Array[String] = Array.fill(NDocs) {
    val n = 10 + rng.int(91)
    Seq.fill(n)(if (rng.double() < 0.005) "dup" else Vocab(rng.int(Vocab.size)))
      .mkString(" ")
  }
  private val docTerms: Array[Set[String]] = texts.map(_.split(" ").toSet)
  private val vecs = scala.collection.mutable.Map[Long, Array[Float]]()
  (0 until NVecs).foreach(i => vecs(i.toLong) = unitVector())
  private val labels = Array.fill(NVecs)(rng.int(10))
  private val liveDocs = scala.collection.mutable.Set[Long]()
  (0 until NDocs).foreach(i => liveDocs += i.toLong)
  private var liveMeta: DataFrame = _

  private def pickLang(): String = {
    val u = rng.double()
    if (u < 0.41) "en" else Seq("zh", "es", "fr", "de")(((u - 0.41) / 0.1475)
      .toInt.min(3))
  }

  private def unitVector(): Array[Float] = {
    val v = Array.fill(D)(rng.gaussian())
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  private def refreshMeta(): Unit =
    liveMeta = liveDocs.toSeq.sorted.map(d => (d, docLang(d.toInt)))
      .toDF("doc_id", "lang")

  private def writeCorpus(): Unit = {
    (0 until NDocs).map(i => (i.toLong, texts(i), docLang(i), s"src${i % 20}",
        texts(i).length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(s"$sfDir/documents.parquet")
    (0 until NVecs).map(i => (i.toLong, vecs(i.toLong), labels(i)))
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.parquet(s"$sfDir/embeddings.parquet")
  }

  private final case class Req(qid: Long, terms: Seq[String],
                               langs: Seq[String], alpha: Double, k: Int,
                               tier: Int, vec: Array[Float])

  private def requestBatch(): Seq[Req] = (0 until RequestsPerOp).map { q =>
    val terms = rng.sample((Vocab :+ "dup").toIndexedSeq, 1 + rng.int(4))
    val langs = rng.sample(Langs.toIndexedSeq, 1 + rng.int(2))
    Req(q.toLong, terms, langs, Alphas(rng.int(Alphas.size)), 3 + rng.int(8),
      Tiers(rng.int(Tiers.size)), unitVector())
  }

  private def serve(reqs: Seq[Req]): Array[org.apache.spark.sql.Row] = {
    val qEmb = reqs.map(r => (r.qid, r.vec, 0)).toDF("vec_id", "embedding",
      "label")
    val (df, release) = ctx.span("Search.call")(Dedup.scopedRelease(
      Search.serveRequestsTieredOff(spark, sfDir, Some(layout), qEmb,
        liveMeta,
        reqs.map(r => r.qid -> r.terms),
        reqs.flatMap(r => r.langs.map(r.qid -> _)),
        reqs.map(r => r.qid -> r.alpha),
        reqs.map(r => r.qid -> r.k),
        reqs.map(r => r.qid -> r.tier),
        Scales, SparkEntry.Bm25K1, SparkEntry.Bm25B, SparkEntry.RrfPoolN,
        SparkEntry.PostBuckets, Alpha)))
    try ctx.span("Search.action")(df.collect()) finally release()
  }

  /** Rows each request must return: min(k, eligible), where eligible
    * counts live docs in its langs that have a live vector or hold one of
    * its terms. Both pools are cut at the pool depth, so when fewer live
    * vectors than k are eligible the count may fall between the bounds. */
  private def expectedRows(r: Req): (Int, Int) = {
    val inLang = liveDocs.filter(d => r.langs.contains(docLang(d.toInt)))
    val withVec = inLang.count(vecs.contains)
    val eligible = inLang.count(d =>
      vecs.contains(d) || r.terms.exists(docTerms(d.toInt)))
    (math.min(r.k, math.min(SparkEntry.RrfPoolN, withVec)),
      math.min(r.k, eligible))
  }

  private def check(id: Int, reqs: Seq[Req],
                    rows: Array[org.apache.spark.sql.Row]): (Int, Int) = {
    val byQ = rows.groupBy(_.getAs[Long]("qid"))
    var got, want = 0
    reqs.foreach { r =>
      val rs = byQ.getOrElse(r.qid, Array.empty).sortBy(_.getAs[Int]("rank"))
      val ids = rs.map(_.getAs[Long]("doc_id"))
      val fused = rs.map(_.getAs[Double]("fused"))
      val (lo, hi) = expectedRows(r)
      got += ids.length
      want += hi
      if (ids.exists(d => !liveDocs(d)))
        ctx.fail(id, s"qid ${r.qid} returned a deleted id")
      else if (ids.distinct.length != ids.length)
        ctx.fail(id, s"qid ${r.qid} returned a duplicate id")
      else if (ids.length < lo || ids.length > hi)
        ctx.fail(id, s"qid ${r.qid} returned ${ids.length} rows, " +
          s"expected $lo..$hi")
      else if (rs.map(_.getAs[Int]("rank")).toSeq != (1 to ids.length))
        ctx.fail(id, s"qid ${r.qid} ranks are not 1..${ids.length}")
      else if (fused.zip(fused.drop(1)).exists { case (a, b) => a < b })
        ctx.fail(id, s"qid ${r.qid} is not ordered by fused score")
    }
    (got, want)
  }

  /** An update (v' = −v, the commit's own transform) or a delete of
    * seeded live vector ids, one per id bucket of the layout, so every
    * commit rewrites the same buckets whatever the seed. */
  private def commit(update: Boolean): Long = {
    val ids = vecs.keys.toIndexedSeq.sorted
      .groupBy(_ % Disaggregated.ServeTiersUpsertBuckets).toSeq.sortBy(_._1)
      .map { case (_, bucket) => bucket(rng.int(bucket.size)) }
    val idDf = ids.toDF("id")
    ctx.span("Disaggregated.commit") {
      if (update) Disaggregated.commitServeTierUpserts(spark, layout, idDf,
        Scales)
      else Disaggregated.commitServeTierDeletes(spark, layout, idDf)
    }
    if (update) ids.foreach(i => vecs(i) = vecs(i).map(x => -x))
    else {
      ids.foreach { i => vecs -= i; liveDocs -= i }
      refreshMeta()
    }
    ids.size.toLong * D * 4
  }

  /** The store's index rebuild: a spherical IVF-PQ index trained over the
    * layout's live full-precision vectors, answering the NQ smallest live
    * ids as queries (SparkEntry's index constants). */
  private def rebuild(): Array[org.apache.spark.sql.Row] = {
    val emb = spark.read.parquet(layout).select(col("id").as("vec_id"),
      col("vec").as("embedding"), lit(0).as("label"))
    val (df, release) = ctx.span("Pq.call")(Dedup.scopedRelease(
      Pq.topkSphericalResidual(emb, NQ, K, SparkEntry.IvfCells, D,
        SparkEntry.IvfProbe, SparkEntry.PqM, SparkEntry.PqCodes,
        SparkEntry.PqRerank)))
    try ctx.span("Pq.action")(df.collect()) finally release()
  }

  /** Exact cosine top-K hits of a rebuild's answers, from the live state;
    * every query must get K distinct ids. */
  private def checkRebuild(id: Int, rows: Array[org.apache.spark.sql.Row])
      : Int = {
    val live = vecs.keys.toSeq.sorted
    val got = rows.groupBy(_.getAs[Long]("qid"))
    live.take(NQ).map { q =>
      val qv = vecs(q)
      val exact = live.sortBy(j => (-cos(qv, vecs(j)), j)).take(K).toSet
      val ids = got.getOrElse(q, Array.empty).map(_.getAs[Long]("id"))
      if (ids.length != K || ids.distinct.length != K)
        ctx.fail(id, s"rebuild query $q returned ${ids.length} rows")
      ids.count(exact)
    }.sum
  }

  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var d, na, nb = 0.0
    var j = 0
    while (j < a.length) {
      d += a(j).toDouble * b(j); na += a(j).toDouble * a(j)
      nb += b(j).toDouble * b(j); j += 1
    }
    d / math.sqrt(na * nb)
  }

  def run(): Outcome = {
    sfDir = ctx.work.resolve("sf").toString
    setup.once {
      writeCorpus()
      Search.ensurePostingsLayout(spark, sfDir, SparkEntry.PostBuckets)
      refreshMeta()
    }
    val writeS = setup.data { rep =>
      layout = ctx.work.resolve(s"tiers-$rep").toString
      val t0 = System.nanoTime()
      ctx.span("Disaggregated.write")(Disaggregated.writeServeTiersPartitioned(
        spark.read.parquet(s"$sfDir/embeddings.parquet")
          .join(spark.read.parquet(s"$sfDir/documents.parquet")
            .select(col("doc_id").as("vec_id"), col("lang")), Seq("vec_id"))
          .select(col("vec_id").as("id"), col("lang"),
            col("embedding").as("vec")),
        layout, Scales))
      (System.nanoTime() - t0) / 1e9
    }
    val footer = Footer.columnBytes(spark, layout)
    val fullBytes = footer("vec")
    val cheapBytes = footer.values.sum - fullBytes

    // warm-up: one op of each kind
    setup.warmup {
      val reqs = requestBatch()
      check(-1, reqs, serve(reqs))
      commit(update = true)
      commit(update = false)
      checkRebuild(-1, rebuild())
    }

    var rowsGot, rowsWant = 0
    var userBytes = 0L
    var pqHits = 0L
    var pqQueries = 0
    var reqs: Seq[Req] = Seq.empty
    ctx.startLoop()
    var i = 0
    while (ctx.continue(i, Cycle.size)) {
      val id = ctx.nextOpId
      // a traced run's untraced twin replays its slot's request batch
      val fresh = !ctx.twin(i)
      Cycle(ctx.slot(i) % Cycle.size) match {
        case Request =>
          if (fresh) reqs = requestBatch()
          val batch = reqs
          ctx.op("read", RequestsPerOp)(serve(batch)).foreach { rows =>
            val (g, w) = check(id, batch, rows)
            rowsGot += g
            rowsWant += w
          }
        case Rebuild =>
          ctx.op("build", NQ)(rebuild()).foreach { rows =>
            pqHits += checkRebuild(id, rows)
            pqQueries += NQ
          }
        case verb =>
          ctx.op("commit", 0)(commit(verb == Update)).foreach(userBytes += _)
      }
      i += 1
    }

    // the layout after every commit must hold exactly the live vectors
    val stored = spark.read.parquet(layout).select(col("id"), col("vec"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Float](1))
    val layoutOk = stored.length == vecs.size && stored.forall {
      case (i, v) => vecs.get(i).exists(_.sameElements(v)) }

    val commits = ctx.ops.filter(o => o.kind == "commit" && o.ok)
    ctx.tracer.foreach { t =>
      ctx.ops.filter(_.layers.nonEmpty).foreach { o =>
        val m =
          if (o.kind == "commit") Map(
            "Disaggregated.commit_s" -> t.opSeconds(o.id, "Disaggregated.commit"),
            "Disaggregated.commit_write_bytes" -> o.io.wchar.toDouble)
          else if (o.kind == "build") Map(
            "Pq.call_s" -> t.opSeconds(o.id, "Pq.call"),
            "Pq.action_s" -> t.opSeconds(o.id, "Pq.action")) ++
            Seq("jobs", "task_busy_s", "cpu_s", "shuffle_bytes", "codegen_ms")
              .map(n => s"Pq.$n" -> o.layers(s"spark.$n"))
          else Map(
            "Search.call_s" -> t.opSeconds(o.id, "Search.call"),
            "Search.action_s" -> t.opSeconds(o.id, "Search.action"))
        ctx.addLayers(o.id, m)
      }
    }
    val commitP50 =
      if (commits.isEmpty) 0.0 else Stats.median(commits.map(_.wall).toSeq)
    val writeAmp =
      if (userBytes == 0) 0.0
      else commits.map(_.io.wchar).sum.toDouble / userBytes
    Outcome(
      if (rowsWant == 0) 0.0 else rowsGot.toDouble / rowsWant,
      Seq(("commit_p50_s", commitP50, "s"), ("write_amp", writeAmp, "ratio"),
        ("pq_recall_at_k",
          if (pqQueries == 0) 0.0 else pqHits.toDouble / (K * pqQueries),
          "ratio"),
        ("commit_ops", commits.size.toDouble, "count"),
        ("live_vectors", vecs.size.toDouble, "count")),
      Map("Disaggregated.write_s" -> writeS,
        "Disaggregated.cheap_bytes" -> cheapBytes.toDouble,
        "Disaggregated.full_bytes" -> fullBytes.toDouble),
      Seq("layout_holds_exactly_the_live_vectors" -> layoutOk,
        "warm_up_results_pass_their_checks" -> !ctx.failed(-1)))
  }
}

object ServeMutating {
  val NDocs = 5000
  val NVecs = 2000
  val D: Int = SparkEntry.EmbD
  val Vocab: Seq[String] = Seq("spark", "window", "merge", "table", "column",
    "vector", "stream", "value", "data", "small", "join", "filter", "big",
    "group", "hash", "customer", "sort", "order", "slow", "line", "part",
    "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")
  val Langs = Seq("en", "zh", "es", "fr", "de")
  val Alphas = Seq(0.3, 0.5, 0.6, 0.7)
  val Scales: Seq[Int] = SparkEntry.ServeTierLayoutScales
  val Tiers: Seq[Int] = SparkEntry.ServeTierScales
  val Alpha: Double = SparkEntry.refineParams("cos_l1").alpha
  val RequestsPerOp = 4
  /** Queries answered by an index rebuild, and their depth. */
  val NQ = 10
  val K: Int = SparkEntry.K

  sealed trait Verb
  case object Request extends Verb
  case object Update extends Verb
  case object Delete extends Verb
  case object Rebuild extends Verb
  /** The closed loop's op cycle: two of every six ops are commits. */
  val Cycle: Seq[Verb] =
    Seq(Request, Update, Request, Delete, Request, Rebuild)
}
