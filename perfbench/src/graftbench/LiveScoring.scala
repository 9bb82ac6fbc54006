package graftbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.ml.Sentiment
import graft.sources.Tables
import graft.streaming.ScoringStream

/** The reference's deployment: a model trained and saved in set-up scores
  * reviews arriving on a socket.
  *
  * Open loop: a generator thread sends `Rate` timestamped reviews per
  * second on a fixed schedule, well under capacity, with 5% resends and 5%
  * adjacent out-of-order pairs. The stream runs `dedupStream` by review id
  * within the watermark, then `scoreStream`, on the default trigger, so
  * latency measures engine work and not a timer phase. Latency runs from
  * each review's due time to the commit of the batch holding its result.
  *
  * Drain: a fixed staged backlog runs through `eventsStream` →
  * `runToParquet`, one pass at a time. Per-microbatch fixed cost dominates
  * both halves; the model fits happen in set-up.
  */
final class LiveScoring extends Workload {
  val TrainDocs = 5000L
  val Backlog = 20000L
  val Rate = 100
  val Watermark = "10 seconds"
  val WarmupEvents = 40

  private var model: PipelineModel = _
  private var backlogLabels: Option[Map[Long, Double]] = None
  private var live: Live = _

  def stage(spark: SparkSession, dir: String, seed: Long): Unit = {
    import spark.implicits._
    Tables.writeParquet(Gen.reviews(spark, seed, TrainDocs, 0, 4), s"$dir/train.parquet")
    // backlog: distinct reviews plus resent copies, stamped one second apart
    val backlog = Gen.reviews(spark, seed + 1, Backlog, Backlog / 20, 8)
      .select(col("review_id"), timestamp_seconds(lit(1700000000L) + col("review_id")).as("ts"),
        col("text"))
    Tables.writeParquet(backlog, s"$dir/backlog.parquet")
    Files.createDirectories(Paths.get(dir))
    Files.write(Paths.get(s"$dir/live.tsv"), liveLines(seed).getBytes(StandardCharsets.UTF_8))
  }

  /** The whole event schedule, fixed by the seed: slot, id, created, text. */
  def liveLines(seed: Long, n: Int = eventsFor(60)): String =
    Gen.schedule(seed, n).map { s =>
      s"${s.slot}\t${s.id}\t${s.created}\t${Gen.liveText(seed, s.id)}\n"
    }.mkString

  def eventsFor(seconds: Double): Int = (seconds * Rate).toInt

  override def prepare(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val train = Sentiment.prepare(Tables.load(spark, ctx.dir, "train"))
    Sentiment.save(Sentiment.pipeline("svm").fit(train), ctx.path("model"))
    model = Sentiment.load(ctx.path("model"))
  }

  private def liveLabels(ctx: Ctx): Map[Long, Double] = {
    val spark = ctx.spark
    import spark.implicits._
    val rows = scala.io.Source.fromFile(ctx.path("live.tsv"), "UTF-8").getLines()
      .map(_.split("\t", 4)).map(a => (a(1).toLong, a(3))).toSeq.distinct
    batchLabels(rows.toDF("review_id", "text"))
  }

  /** The batch `scoreStream` label of every review in `reviews`. */
  private def batchLabels(reviews: DataFrame): Map[Long, Double] =
    ScoringStream.scoreStream(reviews.select("review_id", "text").distinct(), model, "text")
      .select("review_id", "prediction")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap

  /** Start the stream, run warm-up reviews through it, and drain once. */
  def warmup(ctx: Ctx): Unit = {
    live = new Live(ctx, model, Rate, Watermark)
    live.warmup(WarmupEvents)
    drain(ctx, -1)
  }

  def run(ctx: Ctx, seconds: Double): Unit = {
    val t0 = Clock.ms()
    val openLoop = seconds * 0.6
    if (ctx.trace) ctx.tracer.start()
    live.openLoop(eventsFor(openLoop), liveLabels(ctx))
    if (ctx.trace) ctx.tracer.stop()
    ctx.sampleLiveHeap() // with the stream's state store loaded
    live.stop()
    val drains = new Pacer(t0 + seconds * 1000)
    var i = 0
    while (drains.next()) {
      drain(ctx, i)
      i += 1
    }
  }

  private def drain(ctx: Ctx, i: Int): Unit = {
    val spark = ctx.spark
    val out = ctx.path(s"drain$i.parquet")
    ctx.pass(ctx.tracedPass(i)) {
      val src = ScoringStream.eventsStream(spark, ctx.path("backlog.parquet"))
      val scored = ScoringStream.scoreStream(
        ScoringStream.dedupStream(src, Seq("review_id"), "ts", Watermark), model, "text")
      ScoringStream.runToParquet(scored.select("review_id", "prediction"), out,
        ctx.path(s"drain$i.ckpt"))
    }
    if (i >= 0) checkDrain(ctx, i, out)
    ctx.release()
  }

  private def checkDrain(ctx: Ctx, i: Int, out: String): Unit = {
    val rows = ctx.spark.read.parquet(out).collect().map(r => (r.getLong(0), r.getDouble(1)))
    val ids = rows.map(_._1)
    val labels = backlogLabels.getOrElse(batchLabels(Tables.load(ctx.spark, ctx.dir, "backlog")))
    backlogLabels = Some(labels)
    val wrong = rows.count { case (id, p) => !labels.get(id).contains(p) }
    val ok = ids.length == Backlog && ids.distinct.length == Backlog && wrong == 0
    ctx.raw.check(s"live_scoring.drain_exactly_once#$i", ok,
      s"${ids.length} rows, ${ids.distinct.length} distinct, $wrong wrong labels; expected $Backlog")
  }

  override def close(): Unit = if (live != null) { live.stop(); live = null }
}

/** The live stream and its generator. */
final class Live(ctx: Ctx, model: PipelineModel, rate: Int, watermark: String) {
  private val spark = ctx.spark
  private val server = new ServerSocket(0, 1, InetAddress.getLoopbackAddress)
  private val progress = new ProgressListener
  /** batch id → review ids it emitted, filled by the sink */
  private val emitted = new ConcurrentHashMap[Long, Array[(Long, Double)]]()
  @volatile private var conn: Socket = _
  private val accept = new Thread(() => conn = server.accept(), "live-accept")
  accept.setDaemon(true)
  accept.start()
  spark.streams.addListener(progress)

  private val query: StreamingQuery = {
    val parts = split(col("line"), "\t", 3)
    val events = ScoringStream.socketLines(spark, "127.0.0.1", server.getLocalPort)
      .select(parts(0).cast("long").as("review_id"),
        timestamp_micros(parts(1).cast("long")).as("ts"), parts(2).as("text"))
    val scored = ScoringStream.scoreStream(
      ScoringStream.dedupStream(events, Seq("review_id"), "ts", watermark), model, "text")
      .select("review_id", "prediction")
    scored.writeStream
      .option("checkpointLocation", ctx.path("live.ckpt"))
      .foreachBatch { (df: DataFrame, id: Long) =>
        emitted.put(id, df.collect().map(r => (r.getLong(0), r.getDouble(1))))
        ()
      }
      .start()
  }
  accept.join(30000)
  require(conn != null, "the socket source did not connect")
  private val out = new BufferedWriter(new OutputStreamWriter(conn.getOutputStream, StandardCharsets.UTF_8))

  private def send(id: Long, createdUs: Long, text: String): Unit = {
    out.write(s"$id\t$createdUs\t$text\n")
    out.flush()
  }

  private def seen(ids: Set[Long], timeoutMs: Double): Boolean = {
    val end = Clock.ms() + timeoutMs
    def all = ids.subsetOf(emitted.values.asScala.flatMap(_.map(_._1)).toSet)
    while (!all && Clock.ms() < end) Thread.sleep(5)
    all
  }

  /** Warm-up reviews with ids no schedule uses, until they are emitted. */
  def warmup(n: Int): Unit = {
    val base = Long.MaxValue / 2
    val now = System.currentTimeMillis() * 1000
    (0 until n).foreach(i => send(base + i, now, Gen.liveText(ctx.seed, base + i)))
    require(seen((0 until n).map(base + _).toSet, 60000), "warm-up reviews not emitted")
    emitted.clear()
  }

  /** Send the first `n` reviews of the schedule on time, wait for their
    * results, and judge them against the batch `labels` (computed after
    * the last send). */
  def openLoop(n: Int, labels: => Map[Long, Double]): Unit = {
    val rows = scala.io.Source.fromFile(ctx.path("live.tsv"), "UTF-8").getLines()
      .map(_.split("\t", 4)).map(a => (a(0).toLong, a(1).toLong, a(2).toLong, a(3)))
      .filter(_._2 < n).toVector
    val intervalMs = 1000.0 / rate
    val intervalNs = (intervalMs * 1e6).toLong
    val startNs = System.nanoTime() + 50000000L
    val t0 = Clock.at(startNs)
    val wall0Us = System.currentTimeMillis() * 1000 + 50000
    val firstDue = mutable.LinkedHashMap.empty[Long, Double]
    var late = 0.0
    rows.foreach { case (slot, id, created, text) =>
      val dueNs = startNs + slot * intervalNs
      var now = System.nanoTime()
      while (now < dueNs) { LockSupport.parkNanos(dueNs - now); now = System.nanoTime() }
      send(id, wall0Us + created * intervalNs / 1000, text)
      late = math.max(late, (System.nanoTime() - dueNs) / 1e6)
      if (!firstDue.contains(id)) firstDue(id) = t0 + slot * intervalMs
    }
    val lastSend = Clock.ms()
    val complete = seen(firstDue.keySet.toSet, 20000)
    // progress events arrive asynchronously: wait for the last batch that emitted rows
    val lastBatch = emitted.asScala.collect { case (b, rs) if rs.nonEmpty => b }.maxOption
    val progressEnd = Clock.ms() + 10000
    def commits = progress.of(query.runId).map { case (t, p) => p.batchId -> t }.toMap
    while (lastBatch.exists(b => !commits.contains(b)) && Clock.ms() < progressEnd) Thread.sleep(5)
    val batchLabel = labels
    val committed = commits
    val counts = mutable.Map.empty[Long, Int].withDefaultValue(0)
    val commitOf = mutable.Map.empty[Long, Double]
    emitted.asScala.foreach { case (batch, rs) =>
      rs.foreach { case (id, p) =>
        counts(id) += 1
        if (batchLabel.get(id).contains(p)) commitOf(id) = committed.getOrElse(batch, Double.NaN)
      }
    }
    var good = 0
    firstDue.foreach { case (id, due) =>
      val ok = counts(id) == 1 && commitOf.get(id).exists(!_.isNaN)
      if (ok) good += 1
      ctx.raw.latencies += (if (ok) commitOf(id) - due else Double.PositiveInfinity)
      ctx.raw.op(ok)
    }
    val extra = counts.keySet.diff(firstDue.keySet).size
    ctx.raw.check("live_scoring.exactly_once_with_batch_label",
      complete && good == firstDue.size && extra == 0,
      s"${firstDue.size - good} of ${firstDue.size} reviews not emitted exactly once " +
        s"with the batch label; $extra unexpected ids")
    ctx.raw.quality = good.toDouble / firstDue.size
    ctx.raw.layer("gen.late_ms") = late
    ctx.raw.layer("gen.backlog_end") =
      firstDue.keys.count(id => commitOf.get(id).forall(c => c.isNaN || c > lastSend)).toDouble
    progress.of(query.runId).foreach { case (t, p) =>
      if (t >= t0) ctx.raw.streamBatches += p.json
    }
    ctx.raw.liveRunId = query.runId.toString
  }

  def stop(): Unit = {
    if (query.isActive) { query.stop(); query.awaitTermination(30000) }
    spark.streams.removeListener(progress)
    if (conn != null) conn.close()
    server.close()
  }
}
