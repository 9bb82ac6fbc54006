package graftbench

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Raw measurements of one run. The summary (medians, tail rule, self
  * time) is computed by `metrics.py` from what is written here. */
final class Raw {
  /** (kind, start ms, end ms, cpu ms, gc ms); kind "u" untraced, "t" traced */
  val passes = ArrayBuffer.empty[(String, Double, Double, Double, Double)]
  val setup = ArrayBuffer.empty[Double]
  var warmup = 0.0
  val latencies = ArrayBuffer.empty[Double]
  val checks = ArrayBuffer.empty[(String, Boolean, String)]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  val streamBatches = ArrayBuffer.empty[String]
  var attempted = 0L
  var failed = 0L
  var quality = Double.NaN
  /** largest live heap seen by `Ctx.sampleLiveHeap`, MB */
  var liveHeapMb = 0.0
  var window = (0.0, 0.0)
  var liveRunId = ""

  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }

  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    checks += ((name, ok, if (ok) "" else detail))
    op(ok)
    if (!ok) System.err.println(s"CHECK FAILED $name: $detail")
  }
}

object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString
  def obj(kv: (String, String)*): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
  def arr(xs: Iterable[String]): String = xs.mkString("[", ",", "]")
}

/** A workload: inputs it stages, set-up it prepares, and its timed part. */
trait Workload {
  def stage(spark: SparkSession, dir: String, seed: Long): Unit
  /** The rest of set-up (model training). Runs once per set-up
    * repetition. */
  def prepare(ctx: Ctx): Unit = ()
  /** After the last set-up repetition: one unrecorded pass, so timed
    * passes start with a warm JIT, and anything long-lived the timed part
    * uses (the live stream). Its time is part of set-up. */
  def warmup(ctx: Ctx): Unit
  def run(ctx: Ctx, seconds: Double): Unit
  /** Leave the process as it was: stop streams and threads. */
  def close(): Unit = ()
}

final class Ctx(val spark: SparkSession, val dir: String, val seed: Long,
                val trace: Boolean, val raw: Raw) {
  val tracer = new Tracer(spark)
  /** false during warm-up: passes run but are not recorded */
  var recording = true

  def span[T](name: String)(body: => T): T = tracer.span(name)(body)

  /** Live heap now, after a full collection; untimed. Work it retains
    * (cached frames, checkpoints, state stores) counts until `release`. */
  def sampleLiveHeap(): Unit = raw.liveHeapMb = math.max(raw.liveHeapMb, Clock.liveHeapMb())

  /** Time one pass; traced passes run with the job listener and spans on.
    * After a recorded pass, untimed, the live heap is sampled. */
  def pass[T](traced: Boolean)(body: => T): T = {
    if (traced) tracer.start()
    val (t0, c0, g0) = (Clock.ms(), Clock.cpuNs(), Clock.gcMs())
    try body
    finally {
      val (t1, c1, g1) = (Clock.ms(), Clock.cpuNs(), Clock.gcMs())
      if (traced) tracer.stop()
      if (recording) {
        raw.passes += ((if (traced) "t" else "u", t0, t1, (c1 - c0) / 1e6, (g1 - g0).toDouble))
        sampleLiveHeap()
      }
    }
  }

  /** In a traced run, passes alternate untraced/traced so the traced run
    * also measures its own overhead. */
  def tracedPass(i: Int): Boolean = trace && i % 2 == 1

  /** Untimed between passes, as the repo's harnesses do: drop cached
    * frames and the checkpoint blocks `Guards.materialize` leaves. */
  def release(): Unit = {
    spark.catalog.clearCache()
    graft.Guards.releaseMaterialized(spark)
  }

  def path(name: String): String = s"$dir/$name"
}

/** Closed-loop pacing: at least two iterations, then another only while
  * the previous one's duration says it ends within half an iteration of
  * the deadline, so a run measures for about its allotted time instead of
  * overrunning by up to a whole pass. */
final class Pacer(deadline: Double) {
  private var n = 0
  private var last = 0.0
  private var t = Clock.ms()

  def next(): Boolean = {
    val now = Clock.ms()
    if (n > 0) last = now - t
    t = now
    n += 1
    n <= 2 || now + last / 2 <= deadline
  }
}

object Force {
  /** Run a lazy frame to completion without keeping its rows. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
}

object Main {
  private def arg(args: Array[String], k: String): String = {
    val i = args.indexOf(k)
    if (i >= 0 && i + 1 < args.length) args(i + 1) else ""
  }

  val SetupReps = 3

  def workload(name: String): Workload = name match {
    case "reference_flow" => new ReferenceFlow
    case "curation" => new Curation
    case "live_scoring" => new LiveScoring
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: String): SparkSession = {
    val s = graft.GraftSession.builder(Some("local[3]"))
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    graft.functions.GraftExtensions.register(s)
    s
  }

  def main(args: Array[String]): Unit = {
    val Seq(name, seedArg, secondsArg, traceArg, work, out) =
      Seq("--workload", "--seed", "--seconds", "--trace", "--work", "--out").map(arg(args, _))
    require(Seq(name, seedArg, secondsArg, traceArg, work, out).forall(_.nonEmpty),
      "usage: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE")
    val (seed, seconds, trace) = (seedArg.toLong, secondsArg.toDouble, traceArg == "1")
    val stageOnly = args.contains("--stage-only")
    if (trace) System.setProperty("spark.callstack.depth", MlPhase.Depth)
    val raw = new Raw
    val w = workload(name)
    val code = try {
      if (stageOnly) {
        val spark = session(work)
        w.stage(spark, s"$work/staged", seed)
        spark.stop()
      } else run(w, name, seed, seconds, trace, work, raw, out)
      0
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    } finally w.close()
    System.exit(code)
  }

  private def run(w: Workload, name: String, seed: Long, seconds: Double,
                  trace: Boolean, work: String, raw: Raw, out: String): Unit = {
    // Set-up is repeated and its median reported: the first repetition
    // also pays JVM class loading, which no later change can move.
    var ctx: Ctx = null
    val sessionSpans = ArrayBuffer.empty[(Double, Double)]
    for (rep <- 0 until SetupReps) {
      if (ctx != null) { w.close(); ctx.spark.stop() }
      val t0 = Clock.ms()
      val spark = session(work)
      val t1 = Clock.ms()
      sessionSpans += ((t0, t1))
      val dir = s"$work/rep$rep"
      w.stage(spark, dir, seed)
      val t2 = Clock.ms()
      ctx = new Ctx(spark, dir, seed, trace, raw)
      w.prepare(ctx)
      raw.setup += (Clock.ms() - t0) / 1000.0
      System.err.println(f"set-up $rep: session ${t1 - t0}%.0f ms, staging ${t2 - t1}%.0f ms, " +
        f"prepare ${Clock.ms() - t2}%.0f ms")
      ctx.release()
    }
    sessionSpans.foreach { case (a, b) => ctx.tracer.record("GraftSession.start", a, b) }
    val w0 = Clock.ms()
    ctx.recording = false
    w.warmup(ctx)
    ctx.recording = true
    ctx.release()
    raw.warmup = (Clock.ms() - w0) / 1000.0
    val t0 = Clock.ms()
    w.run(ctx, seconds)
    raw.window = (t0, Clock.ms())
    System.err.println(f"warm-up ${raw.warmup * 1000}%.0f ms, timed ${raw.window._2 - t0}%.0f ms")
    w.close()
    // The heap is fixed and touched at start, so it is all of VmHWM's heap
    // share; what the run needs is the rest plus the heap it kept live.
    raw.layer("native_rss_mb") = Clock.peakRssMb() - Clock.committedHeapMb()
    raw.layer("live_heap_mb") = raw.liveHeapMb
    raw.layer("peak_rss_mb") = raw.layer("native_rss_mb") + raw.liveHeapMb
    write(out, name, seed, trace, raw, ctx)
    ctx.spark.stop()
  }

  private def write(out: String, name: String, seed: Long, trace: Boolean,
                    raw: Raw, ctx: Ctx): Unit = {
    import Json._
    val spans = ctx.tracer.spans.map(s => obj("name" -> str(s.name),
      "group" -> str(s.group), "start" -> num(s.start), "end" -> num(s.end)))
    val jobs = ctx.tracer.listener.jobs.values.toArray(Array.empty[JobRec])
      .sortBy(_.id).map(j => obj("group" -> str(j.group), "batch" -> str(j.batch),
        "phase" -> str(j.phase),
        "start" -> num(j.start), "end" -> num(j.end), "tasks" -> j.tasks.toString,
        "task_cpu_ms" -> num(j.cpuNs / 1e6), "shuffle_bytes" -> j.shuffleBytes.toString,
        "spill_bytes" -> j.spillBytes.toString))
    val json = obj(
      "workload" -> str(name), "seed" -> seed.toString,
      "trace" -> (if (trace) "1" else "0"),
      "setup_s" -> arr(raw.setup.map(num)), "warmup_s" -> num(raw.warmup),
      "window_ms" -> arr(Seq(num(raw.window._1), num(raw.window._2))),
      "passes" -> arr(raw.passes.map { case (k, a, b, c, g) =>
        obj("kind" -> str(k), "start" -> num(a), "end" -> num(b),
          "cpu_ms" -> num(c), "gc_ms" -> num(g)) }),
      "latencies_ms" -> arr(raw.latencies.map(num)),
      "attempted" -> raw.attempted.toString, "failed" -> raw.failed.toString,
      "quality" -> num(raw.quality),
      "checks" -> arr(raw.checks.map { case (n, ok, d) =>
        obj("name" -> str(n), "ok" -> ok.toString, "detail" -> str(d)) }),
      "layer" -> obj(raw.layer.toSeq.map { case (k, v) => k -> num(v) }: _*),
      "stream_batches" -> arr(raw.streamBatches), "live_run_id" -> str(raw.liveRunId),
      "spans" -> arr(spans), "jobs" -> arr(jobs))
    val tmp = java.nio.file.Paths.get(out + ".tmp")
    java.nio.file.Files.write(tmp, json.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, java.nio.file.Paths.get(out),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }
}
