package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ext.{Bpe, Dedup, Terms}

/** Scale-evidence harness for the TEXT/TOKENIZER family (dev aid, not
  * driver contract) — the one extension family whose 100-TB claims had
  * plan-shape arguments but no measured curve until round 12: q106 BPE
  * training (the one loop whose round count grows with merge count,
  * not log n), q132 repeated-span dedup, and q61 TF-IDF top-k. Runs
  * the SAME library calls as the oracle-gated queries at 10²–10³× the
  * sf0.01 gate's document count, with law-planted corpora so every
  * result is an exact correctness check, not just a timing:
  *
  *  - BPE corpus (bounded vocabulary): doc i's word k is
  *    vocab[(31·i + 7·k) mod V] with V = 1,000, W = 20 words/doc.
  *    31 and 7 are coprime to V and 7·W < V, so for any n ≡ 0 (mod V)
  *    every vocab word appears EXACTLY n·W/V times — word frequencies
  *    are uniform and scale-proportional, hence the learned merge
  *    table (pair argmax per round, ties broken on binary string
  *    order) must be IDENTICAL at every corpus size. The harness
  *    requires merge-table identity across all sizes run — the
  *    model-artifact form of "the training loop runs on the
  *    vocabulary-bounded word table, never the corpus".
  *  - Span corpus (globally-unique filler): doc i's 30 words are
  *    "u<30·i+k>" — each filler word occurs ONCE in the corpus, so
  *    accidental cross-doc n-grams are impossible (the ScaleDedup
  *    no-collision discipline); every 10th doc carries the same
  *    8-token boilerplate at token positions 11–18. Exact law: n/10
  *    docs report exactly one span, [11, 19), 8 masked tokens each.
  *  - TF-IDF law (on the BPE corpus): tf = 1 everywhere (the 20 words
  *    of a doc are distinct — step-7 progression shorter than V) and
  *    df = n·W/V for every term, so idf is the closed form
  *    round(ln(V/W)·10⁶) = 3,912,023 ppm INDEPENDENT of n, every
  *    score equals it, and the top-k are each doc's k alphabetically
  *    smallest terms (zero-padded word ids make string order = id
  *    order). The harness requires row count n·k and the single
  *    closed-form score.
  *
  * Measured (local[32], round-12 session; SURVEY.md §7.2 carries the
  * round note):
  *  - BPE train 20 rounds: 4.86 s at 1M docs → 6.29 s at 5M docs —
  *    5× the corpus costs 1.29×, because only the ONE word-frequency
  *    pass scales with the corpus; the 20-round merge loop runs on
  *    the 1,000-word state. Merge tables at 10k / 1M / 5M docs:
  *    IDENTICAL (law).
  *  - BPE rounds sweep: +20 rounds (20→40) costs +1.93 s at 1M docs
  *    and +0.77 s at 5M docs — the per-round driver-argmax floor is
  *    ~0.04–0.10 s/round, linear in merge count and INDEPENDENT of
  *    corpus size, exactly as the q106 scaladoc argues.
  *  - repeatedSpans (n=3): 20.5 s at 1M docs (~29M grams) → 110.2 s
  *    at 5M docs (~145M grams) — 5.4× for 5× the tokens, linear in
  *    corpus tokens; span law exact at both sizes (100k/500k planted
  *    docs × 1 span × 8 masked tokens, zero accidental spans).
  *  - tfIdfTopK (k=5): 8.4 s at 1M docs → 51.9 s at 5M docs — 6.2×
  *    for 5× the (id, term) pairs (the materialized tf shuffle and
  *    the per-doc top-k window dominate; the vocabulary side is V
  *    rows). Score law exact (5M/25M rows, single score 3,912,023
  *    ppm at both sizes).
  *
  * Usage: runMain graft.ScaleText [nDocs ...] (each a multiple of
  * 1,000; default 1000000 5000000) — per-operator seconds + law
  * checks; pass two sizes to read the scaling ratio off adjacent runs.
  */
object ScaleText {

  private val V = 1000 // bounded vocabulary size (BPE / TF-IDF corpus)
  private val W = 20   // words per doc in the bounded-vocab corpus
  private val SpanW = 30      // words per doc in the span corpus
  private val Boiler = 8      // boilerplate tokens planted per 10th doc
  private val BoilerAt = 10   // 0-based insert offset (tokens 11..18)

  /** Bounded-vocabulary corpus: uniform word frequencies for any
    * n ≡ 0 (mod V); all W words of a doc distinct.
    */
  def boundedCorpus(spark: SparkSession, n: Long): DataFrame = {
    val words = (0 until W).map { k =>
      concat(lit("w"),
        lpad(pmod(col("id") * 31 + lit(k * 7), lit(V)).cast("string"), 4, "0"))
    }
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
  }

  /** Globally-unique-filler corpus with planted boilerplate spans. */
  def spanCorpus(spark: SparkSession, n: Long): DataFrame = {
    val words = (0 until SpanW).map { k =>
      val filler = concat(lit("u"), (col("id") * SpanW + lit(k)).cast("string"))
      if (k >= BoilerAt && k < BoilerAt + Boiler)
        when(col("id") % 10 === 0, lit(s"b${k - BoilerAt}")).otherwise(filler)
      else filler
    }
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
  }

  def main(args: Array[String]): Unit = {
    val sizes =
      if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(1000000L, 5000000L)
    sizes.foreach(n => require(n % V == 0,
      s"corpus size $n must be a multiple of V=$V for the uniform-frequency law"))
    val spark = Session.local(Session.cpus(32))

    def timed[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scaletext] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // merge-table identity across sizes (plus a small oracle-scale run)
    var mergeRef: Option[Seq[(Int, String, String)]] = None
    val small = timed(s"bpe train r=20 n=10000 (oracle)")(
      Bpe.learnMerges(boundedCorpus(spark, 10000L), "text", 20)
        .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
        .toSeq.sortBy(_._1))
    mergeRef = Some(small)

    for (n <- sizes) {
      println(s"[scaletext] ==== n=$n docs ====")

      // ---- q106 BPE training: one corpus pass + vocab-bounded loop ----
      val m20 = timed(s"bpe train r=20 n=$n")(
        Bpe.learnMerges(boundedCorpus(spark, n), "text", 20)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
          .toSeq.sortBy(_._1))
      require(mergeRef.forall(_ == m20),
        s"merge-table law broken at n=$n: $m20 vs ${mergeRef.get}")
      println(s"[scaletext] merge table identical to oracle-scale run (law)")
      val m40 = timed(s"bpe train r=40 n=$n")(
        Bpe.learnMerges(boundedCorpus(spark, n), "text", 40)
          .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
          .toSeq.sortBy(_._1))
      require(m40.take(20) == m20,
        s"merge prefix law broken at n=$n (rounds 1-20 must be stable)")

      // ---- q132 repeated spans: exact planted-boilerplate law ----
      val spans = timed(s"repeatedSpans n=3 n=$n") {
        val out = Dedup.repeatedSpans(spanCorpus(spark, n), "doc_id", "text", 3)
          .agg(count(lit(1)).as("docs"), sum("n_spans").as("spans"),
            sum("masked_tokens").as("masked"),
            countDistinct("spans").as("distinct_layouts"))
          .collect().head
        (out.getLong(0), out.getLong(1), out.getLong(2), out.getLong(3))
      }
      val planted = (n + 9) / 10 // ids ≡ 0 (mod 10) in [0, n)
      require(spans == ((planted, planted, planted * Boiler, 1L)),
        s"span law broken at n=$n: got $spans, want " +
          s"($planted docs, 1 span each, ${Boiler} masked, layout 11-19)")
      println(s"[scaletext] span law exact: $planted docs × 1 span × 8 tokens")

      // ---- q61 TF-IDF: closed-form uniform-idf law ----
      val k = 5
      val idfPpm = math.round(math.log(V.toDouble / W) * 1e6)
      val tfidf = timed(s"tfIdfTopK k=$k n=$n") {
        val out = Terms.tfIdfTopK(boundedCorpus(spark, n), "doc_id", "text",
            k, corpusN = n)
          .agg(count(lit(1)).as("rows"), countDistinct("score_ppm").as("ns"),
            min("score_ppm").as("s"), min("tf").as("tfmin"),
            max("tf").as("tfmax"))
          .collect().head
        (out.getLong(0), out.getLong(1), out.getLong(2),
          out.getLong(3), out.getLong(4))
      }
      require(tfidf == ((n * k, 1L, idfPpm, 1L, 1L)),
        s"tf-idf law broken at n=$n: got $tfidf, want " +
          s"(${n * k} rows, one score $idfPpm ppm, tf=1)")
      println(s"[scaletext] tf-idf law exact: ${n * k} rows, score $idfPpm ppm")
    }
    println(s"[scaletext] done sizes=${sizes.mkString(",")}")
    spark.stop()
  }
}
