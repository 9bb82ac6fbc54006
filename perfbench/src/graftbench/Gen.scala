package graftbench

import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generators. Every row is a pure function of (seed, stream,
  * row id), so the same seed stages the same bytes whatever the partition
  * layout, and generation runs on the executors in parallel.
  *
  * The vocabulary follows the `documents` table of the sf0.1 testdata (30
  * uniform words); texts run 42–95 words, about 250–600 characters against
  * its 44–577. Tokens are perturbed with letter suffixes (digits would be
  * stripped by `cleanText`), so copies of a base text are not exact and the
  * CountVectorizer vocabulary is ~1.2k terms rather than 30.
  */
object Gen {

  val baseWords: Array[String] = Array(
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash",
    "customer", "sort", "order", "slow", "line", "part", "fast", "row",
    "the", "agg", "key", "query", "a", "scan", "batch")

  private val suffixes: Array[String] = Array(
    "s", "er", "ed", "ly", "ish", "ful", "less", "ness", "able", "ment",
    "ward", "like", "ster", "ling", "ette", "hood", "ship", "dom", "ism",
    "ist", "ify", "ize", "ous", "ive", "al", "ic", "en", "y", "ie", "o",
    "oid", "ite", "ery", "ory", "ant", "ent", "ure", "ade", "age", "ary")

  /** Extra stopwords so every base document carries the stopword evidence
    * the Gopher audit asks for (≥ 2 hits of its core list). */
  private val stopwords: Array[String] = Array("the", "and", "of", "to", "is")

  /** Independent stream per (seed, stream, id): SplitMix-style mixing. */
  def rng(seed: Long, stream: Long, id: Long): SplittableRandom = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + id
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    new SplittableRandom(z ^ (z >>> 31))
  }

  def token(r: SplittableRandom): String =
    if (r.nextInt(10) < 3) suffixed(r) else baseWords(r.nextInt(baseWords.length))

  private def suffixed(r: SplittableRandom): String =
    baseWords(r.nextInt(baseWords.length)) + suffixes(r.nextInt(suffixes.length))

  /** A review-like text of 42–95 words with at least two stopwords. */
  def text(r: SplittableRandom): String = {
    val n = 42 + r.nextInt(54)
    val words = Array.fill(n)(token(r))
    words(r.nextInt(n)) = stopwords(r.nextInt(stopwords.length))
    words(r.nextInt(n)) = stopwords(r.nextInt(stopwords.length))
    words.mkString(" ")
  }

  /** Replace `k` tokens: a near-duplicate that is not an exact copy. */
  def perturb(text: String, k: Int, r: SplittableRandom): String = {
    val words = text.split(" ")
    (0 until k).foreach(_ => words(r.nextInt(words.length)) = "x" + token(r))
    words.mkString(" ")
  }

  /** One common word and two rare ones: every query probes about the
    * same number of postings, so request cost does not hinge on the draw. */
  def query(r: SplittableRandom): String =
    Seq(baseWords(r.nextInt(baseWords.length)), suffixed(r), suffixed(r)).mkString(" ")

  final case class Review(review_id: Long, customer_id: Long,
                          supplier_id: Long, text: String, n_chars: Long)
  final case class Customer(c_custkey: Long, c_name: String,
                            c_nationkey: Int, c_acctbal: Double,
                            c_mktsegment: String)
  final case class Supplier(s_suppkey: Long, s_name: String,
                            s_nationkey: Int, s_acctbal: Double)
  final case class Doc(doc_id: Long, text: String, n_chars: Long)
  final case class Emb(vec_id: Long, embedding: Array[Float])

  val Customers = 15000L
  val Suppliers = 1000L
  private val segments =
    Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")

  def review(seed: Long, id: Long): Review = {
    val r = rng(seed, 1, id)
    val t = text(r)
    Review(id, r.nextLong(Customers), r.nextLong(Suppliers), t, t.length.toLong)
  }

  /** `n` distinct reviews plus `dups` exact copies of earlier rows. */
  def reviews(spark: SparkSession, seed: Long, n: Long, dups: Long,
              files: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, n + dups, 1, files).as[Long].map { i =>
      if (i < n) review(seed, i)
      else review(seed, rng(seed, 2, i).nextLong(n))
    }.toDF()
  }

  def customers(spark: SparkSession, seed: Long, files: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, Customers, 1, files).as[Long].map { i =>
      val r = rng(seed, 3, i)
      Customer(i, f"Customer#$i%09d", r.nextInt(25),
        r.nextInt(1100000) / 100.0 - 1000.0, segments(r.nextInt(segments.length)))
    }.toDF()
  }

  def suppliers(spark: SparkSession, seed: Long, files: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, Suppliers, 1, files).as[Long].map { i =>
      val r = rng(seed, 4, i)
      Supplier(i, f"Supplier#$i%09d", r.nextInt(25),
        r.nextInt(1100000) / 100.0 - 1000.0)
    }.toDF()
  }

  /** Curation corpus layout over ids [0, base + exact + near + lowq):
    * base texts, then exact copies, near copies (one token replaced) and
    * low-quality documents. The source of each injected copy is a
    * function of its id, so the checks can recompute every pair. */
  final case class CurationSizes(base: Long, exact: Long, near: Long,
                                 lowq: Long) {
    def total: Long = base + exact + near + lowq
    def exactSource(seed: Long, id: Long): Long = rng(seed, 6, id).nextLong(base)
    def nearSource(seed: Long, id: Long): Long = rng(seed, 7, id).nextLong(base)
  }

  def curationDoc(seed: Long, s: CurationSizes, id: Long): Doc = {
    def baseText(i: Long) = text(rng(seed, 5, i))
    val t =
      if (id < s.base) baseText(id)
      else if (id < s.base + s.exact) baseText(s.exactSource(seed, id))
      else if (id < s.base + s.exact + s.near)
        perturb(baseText(s.nearSource(seed, id)), 1, rng(seed, 8, id))
      else {
        // fails the Gopher word-count and symbol rules
        val r = rng(seed, 9, id)
        Array.fill(5 + r.nextInt(20))("#" + token(r) + "%").mkString(" ")
      }
    Doc(id, t, t.length.toLong)
  }

  def curationDocs(spark: SparkSession, seed: Long, s: CurationSizes,
                   files: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, s.total, 1, files).as[Long]
      .map(i => curationDoc(seed, s, i)).toDF()
  }

  val Dim = 64
  private val Clusters = 10

  /** Embeddings: `base` vectors around 10 cluster centres, then `dups`
    * jittered copies (cosine > 0.99 to their source). */
  def embedding(seed: Long, base: Long, id: Long): Emb = {
    def baseVec(i: Long): Array[Float] = {
      val c = rng(seed, 10, i % Clusters)
      val r = rng(seed, 11, i)
      Array.fill(Dim)((c.nextGaussian() * 0.3 + r.nextGaussian()).toFloat)
    }
    if (id < base) Emb(id, baseVec(id))
    else {
      val r = rng(seed, 12, id)
      Emb(id, baseVec(r.nextLong(base)).map(x => x + (r.nextGaussian() * 0.02).toFloat))
    }
  }

  def embeddingSource(seed: Long, base: Long, id: Long): Long =
    rng(seed, 12, id).nextLong(base)

  def embeddings(spark: SparkSession, seed: Long, base: Long, dups: Long,
                 files: Int): DataFrame = {
    import spark.implicits._
    spark.range(0, base + dups, 1, files).as[Long]
      .map(i => embedding(seed, base, i)).toDF()
  }

  /** One send slot of the live generator's schedule. `slot` is the send
    * time in units of the send interval, `created` the event-time stamp
    * in the same unit. A resend repeats an earlier review's id, text and
    * stamp; an out-of-order pair swaps two adjacent send slots. */
  final case class Send(slot: Long, id: Long, created: Long, resend: Boolean)

  def schedule(seed: Long, n: Int): Vector[Send] = {
    val r = rng(seed, 13, 0)
    val order = Array.tabulate(n)(_.toLong)
    var i = 0
    while (i < n - 1) {
      if (r.nextInt(100) < 5) {
        val t = order(i); order(i) = order(i + 1); order(i + 1) = t; i += 2
      } else i += 1
    }
    val firsts = order.zipWithIndex.map { case (id, s) => Send(s, id, id, resend = false) }
    val resends = (0L until n).filter(_ => r.nextInt(100) < 5).map { id =>
      Send(math.min(n - 1L, id + 2 + r.nextInt(60)), id, id, resend = true)
    }
    (firsts.toVector ++ resends).sortBy(s => (s.slot, s.resend, s.id))
  }

  def liveText(seed: Long, id: Long): String = text(rng(seed, 14, id))
}
