package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.dedup.ExactDedup
import graft.ml.Sentiment
import graft.operators.Relational
import graft.sources.Tables

/** The reference's batch product, one closed-loop pass at a time:
  * preprocess (prepare, dedup, review⋈customer⋈supplier) → featurize and
  * train (LinearSVC, F1 on the 20% split) → save and load the model →
  * score the corpus and write the predictions.
  *
  * 40k reviews (39.2k distinct + 800 exact copies): large enough that task
  * CPU in the `ml` spans is several times their driver self time, small
  * enough for three passes in an 18 s run.
  */
final class ReferenceFlow extends Workload {
  val Distinct = 39200L
  val Copies = 800L

  def stage(spark: SparkSession, dir: String, seed: Long): Unit = {
    Tables.writeParquet(Gen.reviews(spark, seed, Distinct, Copies, 8), s"$dir/reviews.parquet")
    Tables.writeParquet(Gen.customers(spark, seed, 2), s"$dir/customer.parquet")
    Tables.writeParquet(Gen.suppliers(spark, seed, 1), s"$dir/supplier.parquet")
  }

  private def preprocess(reviews: DataFrame, cust: DataFrame,
                         supp: DataFrame): DataFrame = {
    val deduped = ExactDedup.dropDups(Sentiment.prepare(reviews), Seq("review_id"))
    val withCust = Relational.leftEnrich(deduped, cust,
      col("customer_id") === col("c_custkey"))
    Relational.leftEnrich(withCust, supp, col("supplier_id") === col("s_suppkey"))
  }

  private val outCols = Seq("review_id", "c_mktsegment", "s_name", "prediction")

  def warmup(ctx: Ctx): Unit = onePass(ctx, -1, traced = false)

  def run(ctx: Ctx, seconds: Double): Unit = {
    val pace = new Pacer(Clock.ms() + seconds * 1000)
    var firstF1 = Double.NaN
    var i = 0
    while (pace.next()) {
      val (f1, preds, prepared) = onePass(ctx, i, ctx.tracedPass(i))
      ctx.raw.op(true)
      check(ctx, i, f1, firstF1, preds, prepared)
      if (i == 0) firstF1 = f1
      ctx.raw.quality = firstF1
      ctx.release()
      i += 1
    }
  }

  private def onePass(ctx: Ctx, i: Int, traced: Boolean): (Double, DataFrame, DataFrame) = {
    val spark = ctx.spark
    val modelPath = ctx.path(s"model$i")
    ctx.pass(traced) {
      val (reviews, cust, supp) = ctx.span("sources.scan") {
        val r = Tables.load(spark, ctx.dir, "reviews")
        if (traced) Force.noop(r)
        (r, Tables.customer(spark, ctx.dir), Tables.supplier(spark, ctx.dir))
      }
      val prepared = ctx.span("ml.prepare") {
        val p = preprocess(reviews, cust, supp)
        if (traced) Force.noop(p)
        p
      }
      // traced: metrics.py splits this span into featurize, train and evaluate
      val (model, f1, preds) = ctx.span("ml.train_eval")(Sentiment.trainEval(prepared, "svm"))
      ctx.span("ml.save")(Sentiment.save(model, modelPath))
      val loaded = ctx.span("ml.load")(Sentiment.load(modelPath))
      val scored = ctx.span("ml.score") {
        val s = loaded.transform(prepared)
        if (traced) Force.noop(s)
        s
      }
      ctx.span("sources.write") {
        Tables.writeParquet(scored.select(outCols.map(col): _*), ctx.path(s"scored$i.parquet"))
      }
      (f1, preds, prepared)
    }
  }

  /** On the first pass, the loaded model predicts what the in-memory model
    * predicted on every test row; on every pass, F1 equals the first
    * pass's and every distinct review is scored once. */
  private def check(ctx: Ctx, i: Int, f1: Double, firstF1: Double,
                    preds: DataFrame, prepared: DataFrame): Unit = {
    if (i == 0) {
      val loaded = Sentiment.load(ctx.path(s"model$i"))
      val test = preds.select(prepared.columns.map(col): _*)
      val again = loaded.transform(test).select(col("review_id"), col("prediction").as("p2"))
      val joined = preds.select(col("review_id"), col("prediction").as("p1")).join(again, "review_id")
      val rows = preds.count()
      val same = joined.filter(col("p1") === col("p2")).count()
      ctx.raw.check("reference_flow.loaded_model_equal", rows > 0 && same == rows,
        s"$same of $rows test predictions equal")
    }
    if (i > 0) ctx.raw.check(s"reference_flow.f1_stable#$i", f1 == firstF1,
      s"f1 $f1 != first pass $firstF1")
    val written = ctx.spark.read.parquet(ctx.path(s"scored$i.parquet")).count()
    ctx.raw.check(s"reference_flow.scored_rows#$i", written == Distinct,
      s"$written scored rows, expected $Distinct")
  }
}
