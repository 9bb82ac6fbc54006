package graftbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.{ExactDedup, MinHashDedup}
import graft.search.Bm25
import graft.similarity.Ann
import graft.sources.Tables
import graft.textstats.GopherRules

/** Corpus curation, then search over the index it builds.
  *
  * Batch half (closed loop, one pass at a time): exact dedup → MinHash
  * near dedup → Gopher audit → semantic dedup of the embeddings → BM25
  * impact index written to parquet. Heavy on shuffles, joins and
  * `Guards.materialize` checkpoints.
  *
  * Search half (closed loop, one client): bursts of single-query
  * `searchIndex` requests against the index the warm-up pass persisted,
  * one burst after each batch pass — small requests whose latency is
  * mostly driver planning and task launch.
  */
final class Curation extends Workload {
  val sizes = Gen.CurationSizes(base = 10000, exact = 200, near = 200, lowq = 100)
  val EmbBase = 6000L
  val EmbDups = 150L
  val JaccardMin = 0.8
  val CosineMin = 0.97
  val K = 10
  val Queries = 400
  val Burst = 12
  /** Request latency kept falling through the timed bursts after 20
    * warm-up requests (the JIT still compiling the planner's paths); after
    * this many it no longer trends. */
  val WarmupRequests = 60
  val Sampled = 5

  def stage(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    Tables.writeParquet(Gen.curationDocs(spark, seed, sizes, 8), s"$dir/docs.parquet")
    Tables.writeParquet(Gen.embeddings(spark, seed, EmbBase, EmbDups, 4), s"$dir/embeddings.parquet")
    val qs = (0 until Queries).map(i => (-1L - i, Gen.query(Gen.rng(seed, 15, i))))
    Tables.writeParquet(qs.toDF("query_id", "text").coalesce(1), s"$dir/queries.parquet")
  }

  private val nearIds = (sizes.base + sizes.exact) until (sizes.base + sizes.exact + sizes.near)
  private val lowqIds = (sizes.total - sizes.lowq) until sizes.total

  private def pairs(rows: Array[Row]): Set[(Long, Long)] =
    rows.map(r => (r.getLong(0), r.getLong(1))).toSet

  private def batchPass(ctx: Ctx, i: Int, traced: Boolean)
      : (Long, Set[(Long, Long)], Set[Long], Set[(Long, Long)]) = {
    val spark = ctx.spark
    val docs = Tables.load(spark, ctx.dir, "docs")
    val emb = Tables.embeddings(spark, ctx.dir)
    ctx.pass(traced) {
      ctx.span("dedup.exact") {
        Tables.writeParquet(ExactDedup.keepFirst(docs, Seq("text"), "doc_id"), dedupPath(ctx, i))
      }
      val deduped = spark.read.parquet(dedupPath(ctx, i))
      val kept = deduped.count()
      val near = ctx.span("dedup.minhash") {
        MinHashDedup.nearDuplicates(deduped, "doc_id", "text", JaccardMin)
          .select("id_a", "id_b").collect()
      }
      val flagged = ctx.span("textstats.gopher") {
        GopherRules.audit(deduped, "doc_id", "text").filter(col("keep") === 0)
          .select("doc_id").collect().map(_.getLong(0)).toSet
      }
      val sem = ctx.span("similarity.semantic_dedup") {
        Ann.nearDupByCosineAuto(emb, "vec_id", "embedding", CosineMin, Gen.Dim)
          .select("id_a", "id_b").collect()
      }
      ctx.span("search.index_build") {
        // token-sorted files: the probe's pushed IN(token) filter prunes row groups
        Tables.writeRangeLayout(Bm25.buildImpactIndex(deduped, "doc_id", "text"),
          indexPath(ctx, i), "token", 8)
      }
      (kept, pairs(near), flagged, pairs(sem))
    }
  }

  private def dedupPath(ctx: Ctx, i: Int) = ctx.path(s"dedup$i.parquet")
  private def indexPath(ctx: Ctx, i: Int) = ctx.path(s"index$i.parquet")

  private def queries(ctx: Ctx): Array[(Long, String)] =
    ctx.spark.read.parquet(ctx.path("queries.parquet")).collect()
      .map(r => (r.getLong(0), r.getString(1)))

  private def search(ctx: Ctx, index: DataFrame, q: (Long, String)): Int = {
    val spark = ctx.spark
    import spark.implicits._
    ctx.span("search.query") {
      Bm25.searchIndex(index, Seq(q).toDF("query_id", "text"), "query_id", "text", K).collect()
    }.length
  }

  /** The index the warm-up pass built: every request reads the same files. */
  private def index(ctx: Ctx): DataFrame = ctx.spark.read.parquet(indexPath(ctx, -1))

  def warmup(ctx: Ctx): Unit = {
    batchPass(ctx, -1, traced = false)
    ctx.release()
    val idx = index(ctx)
    queries(ctx).takeRight(WarmupRequests).foreach(q => search(ctx, idx, q))
  }

  /** Batch passes and bursts of `Burst` search requests alternate, so both
    * are sampled across the whole window. */
  def run(ctx: Ctx, seconds: Double): Unit = {
    val idx = index(ctx)
    val qs = queries(ctx)
    val pace = new Pacer(Clock.ms() + seconds * 1000)
    var i = 0
    var q = 0
    var verified = 0L
    while (pace.next()) {
      val (kept, near, flagged, sem) = batchPass(ctx, i, ctx.tracedPass(i))
      ctx.raw.op(true)
      verified = near.size
      checkBatch(ctx, i, kept, near, flagged, sem)
      ctx.release()
      // a traced run traces every request; its latencies are not reported
      if (ctx.trace) ctx.tracer.start()
      for (_ <- 0 until Burst) {
        val t1 = Clock.ms()
        val ok = try search(ctx, idx, qs(q % qs.length)) <= K
          catch { case e: Exception => e.printStackTrace(); false }
        // a failed request misses every latency limit
        ctx.raw.latencies += (if (ok) Clock.ms() - t1 else Double.PositiveInfinity)
        ctx.raw.op(ok)
        q += 1
      }
      if (ctx.trace) ctx.tracer.stop()
      i += 1
    }
    val corpus = ctx.spark.read.parquet(dedupPath(ctx, -1))
    checkSearch(ctx, idx, corpus, qs.take(Sampled))
    if (ctx.trace) {
      val candidates = MinHashDedup.candidatePairs(corpus, "doc_id", "text").count()
      ctx.raw.layer("dedup.minhash.verified_per_candidate") =
        if (candidates == 0) 0.0 else verified.toDouble / candidates
    }
  }

  private def checkBatch(ctx: Ctx, i: Int, kept: Long, near: Set[(Long, Long)],
                         flagged: Set[Long], sem: Set[(Long, Long)]): Unit = {
    val seed = ctx.seed
    val removed = sizes.total - kept
    ctx.raw.check(s"curation.exact_count#$i", removed == sizes.exact,
      s"exact dedup removed $removed, injected ${sizes.exact}")
    val nearFound = nearIds.count(id => near.contains((sizes.nearSource(seed, id), id)))
    val semIds = EmbBase until (EmbBase + EmbDups)
    val semFound = semIds.count(id => sem.contains((Gen.embeddingSource(seed, EmbBase, id), id)))
    val lowqFound = lowqIds.count(flagged.contains)
    ctx.raw.check(s"curation.lowq_flagged#$i", lowqFound == sizes.lowq,
      s"$lowqFound of ${sizes.lowq} low-quality documents flagged")
    ctx.raw.quality = (math.min(removed, sizes.exact) + nearFound + semFound).toDouble /
      (sizes.exact + sizes.near + EmbDups)
  }

  /** `searchIndex` over the persisted index ranks exactly as the exhaustive
    * `topK` over the corpus, for each sampled query. */
  private def checkSearch(ctx: Ctx, index: DataFrame, corpus: DataFrame,
                          sample: Array[(Long, String)]): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val q = sample.toSeq.toDF("query_id", "text")
    def ranks(df: DataFrame) = df.select("query_id", "doc_id", "rank").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq.groupBy(_._1)
      .map { case (k, v) => k -> v.sorted }
    val fromIndex = ranks(Bm25.searchIndex(index, q, "query_id", "text", K))
    val exhaustive = ranks(Bm25.topK(corpus, "doc_id", "text", q, "query_id", "text", K))
    sample.foreach { case (qid, _) =>
      val a = fromIndex.getOrElse(qid, Nil)
      val b = exhaustive.getOrElse(qid, Nil)
      ctx.raw.check(s"curation.search_equals_topk#$qid", a.nonEmpty && a == b,
        s"index ranks $a != topK ranks $b")
    }
  }
}
