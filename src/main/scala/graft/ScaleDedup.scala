package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale-evidence harness for the DEDUP/ANN stack (dev aid, not driver
  * contract) — the q24→q46→q64 MinHash-LSH chain and the q45 IVF probe
  * path at millions of documents/vectors, complementing Scale.scala's
  * relational/layout evidence (79.2M-row fact build, O(delta) upsert,
  * skew join, snapshot diff). The sf0.1 CORRECTNESS gate runs these
  * operators at ~10⁴ docs; this harness runs the SAME library calls at
  * 10²–10³× that, so the 100-TB claims ("candidate generation is an
  * equi-join on a bounded-occupancy key, never all-pairs") are a
  * measured curve rather than a plan-shape argument.
  *
  * The corpus is deterministic with PLANTED duplicates, so every count
  * is law-checkable:
  *  - doc ids with id%100 == 1  are EXACT copies of id−1 (Jaccard 1.0 —
  *    identical signatures, found with probability 1),
  *  - doc ids with id%100 == 51 are NEAR copies of id−1 (last word
  *    differs → 1 of 30 shingles differs, J = 29/31 ≈ 0.935; the
  *    16-hash/4-band LSH detects such a pair with ≈ 1−(1−0.935⁴)⁴ ≈
  *    99.7% probability),
  *  - everything else is unique (vocab arithmetic never collides within
  *    the 32-word window, and two distinct base ids share ~no shingles,
  *    so accidental band collisions are ~impossible at these sizes).
  * Expected verified pairs ≈ 2·n/100 (the near-dup side may undercount
  * by ~0.3%); clusters are disjoint 2-cliques, so survivors must equal
  * n − pairs exactly.
  *
  * Usage: runMain graft.ScaleDedup [nDocs ...] — one LSH-chain + IVF
  * measurement per size; pass two sizes (e.g. 1000000 5000000) to read
  * the scaling ratio off adjacent runs.
  */
object ScaleDedup {

  private val Vocab = 5000
  private val WordsPerDoc = 32
  // the q22–q25 family's registered constants (ExtQueries)
  private val ShingleN = 3
  private val NumHashes = 16
  private val Bands = 4
  private val Threshold = 0.5
  private val EmbDims = 32

  /** Deterministic corpus with planted exact/near duplicates; pure
    * column arithmetic over spark.range — generation is embarrassingly
    * parallel and identical at any partitioning (the RawZoneGen law
    * discipline: no RNG anywhere).
    */
  def corpus(spark: SparkSession, n: Long): DataFrame = {
    val dup = col("id") % 100 === 1 || col("id") % 100 === 51
    val base = when(dup && col("id") > 0, col("id") - 1).otherwise(col("id"))
    val words = (0 until WordsPerDoc).map { k =>
      // hash-mixed (murmur3) word choice: a LINEAR law (base·a + k·b)
      // makes every document's shingle set a shifted arithmetic
      // progression — two docs whose offsets differ by a small step
      // share almost all shingles, i.e. the whole corpus becomes
      // accidental near-dups. Mixing (base, k) through hash() gives
      // independent uniform draws: distinct bases share a given word
      // with prob 1/|vocab| and shingle collisions are ~impossible.
      val w = concat(lit("w"), pmod(hash(base, lit(k)), lit(Vocab)).cast("string"))
      if (k == WordsPerDoc - 1)
        // near-copy: ONLY the last word differs (prefix "x" can never
        // equal a vocab word), touching exactly one trailing shingle
        when(col("id") % 100 === 51 && col("id") > 0,
          concat(lit("x"), (col("id") % Vocab).cast("string"))).otherwise(w)
      else w
    }
    spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", words: _*).as("text"))
  }

  /** Deterministic embedding corpus: dims cell values on a 1/512 grid in
    * [−0.5, 0.5) — enough spread that sign-LSH cells stay balanced.
    */
  def vectors(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      array((0 until EmbDims).map { d =>
        (((col("id") * 31 + lit(d * 7)) % 1024 - 512).cast("double") / 1024.0)
          .cast("float")
      }: _*).as("embedding"))

  def main(args: Array[String]): Unit = {
    val sizes = if (args.nonEmpty) args.toSeq.map(_.toLong) else Seq(1000000L)
    val cpus = Session.cpus(32)
    val spark = Session.local(cpus)
    // Shuffle partitions sized to the LARGEST corpus, not the core
    // count: the signature build keeps per-doc aggregation state
    // (16 mins + a fingerprint set), and ~150k docs/partition keeps a
    // partition's hash-agg state in memory. At 32 partitions the 10M
    // run spills (LSH stage 83 s); sized, it stays ~linear — exactly
    // the partition-sizing rule the 100-TB notes prescribe.
    val shufflePartitions = math.max(cpus, (sizes.max / 150000L).toInt)
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions.toLong)
    println(s"[scale-dedup] shuffle.partitions = $shufflePartitions")
    import graft.ext.{Dedup, Graph, Similarity}
    import graft.sources.Sinks

    def timed[A](name: String)(f: => A): (A, Double) = {
      val t0 = System.nanoTime()
      val r = f
      val secs = (System.nanoTime() - t0) / 1e9
      println(f"[scale-dedup] $name%-28s $secs%8.2f s")
      (r, secs)
    }
    // a broken count law fails the run, never just prints
    def law(ok: Boolean, what: String): Unit = {
      require(ok, s"[scale-dedup] $what MISMATCH")
      println(s"[scale-dedup] $what OK")
    }

    for (n <- sizes) {
      println(s"[scale-dedup] ===== nDocs = $n =====")
      // stage the corpus as parquet so operator timings exclude
      // generation (the deployment shape: the corpus is a table)
      val docsPath = Sinks.tmpPath(s"scaledocs_$n")
      timed(s"write corpus n=$n") {
        corpus(spark, n).write.mode("overwrite").parquet(docsPath)
      }
      val docs = spark.read.parquet(docsPath)

      // q24 law: banded MinHash-LSH candidates + exact-Jaccard verify.
      // localCheckpoint: CC and the count both read the materialized
      // pair set, the LSH chain runs once.
      val (pairs, tPairs) = timed("lsh pairs (q24 law)") {
        Dedup.minhashLshPairs(docs, "doc_id", "text",
          ShingleN, NumHashes, Bands, Threshold).localCheckpoint()
      }
      val nPairs = pairs.count()
      val expectExact = (n + 98) / 100  // ids 1, 101, 201, …
      val expectNear = (n + 48) / 100   // ids 51, 151, …
      law(nPairs >= expectExact && nPairs <= expectExact + expectNear,
        s"pairs=$nPairs expect≈${expectExact + expectNear} " +
          s"(exact=$expectExact guaranteed)")

      // q46 law: connected components over the pair graph + full universe.
      val (cc, tCc) = timed("connected components (q46 law)") {
        Graph.connectedComponents(
          pairs.select(col("id_a"), col("id_b")),
          docs.select(col("doc_id"))).localCheckpoint()
      }
      // q64 law: one survivor per cluster, score = document length.
      val scores = docs.select(col("doc_id"),
        length(col("text")).cast("long").as("score"))
      val (nSurv, tSurv) = timed("survivors (q64 law)") {
        Dedup.survivors(cc, scores, "doc_id", "score").count()
      }
      // disjoint 2-cliques: every detected pair removes exactly one doc
      law(nSurv == n - nPairs, s"survivors=$nSurv expect=${n - nPairs}")
      println(f"[scale-dedup] chain total ${tPairs + tCc + tSurv}%.2f s " +
        f"(${(tPairs + tCc + tSurv) * 1e9 / n}%.0f ns/doc)")

      // q45 law: IVF probe over a sign-LSH quantizer sized for ~32
      // vectors/cell (bitsFor), 100 queries, nProbe 4.
      val vecsPath = Sinks.tmpPath(s"scalevecs_$n")
      timed(s"write vectors n=$n") {
        vectors(spark, n).write.mode("overwrite").parquet(vecsPath)
      }
      val vecs = spark.read.parquet(vecsPath)
      val bits = Similarity.bitsFor(n)
      val (nTopk, _) = timed(s"ivf topk (q45 law, bits=$bits)") {
        Similarity.ivfTopK(vecs, "vec_id", "embedding",
          vecs.filter(col("vec_id") < 100), 10, bits, EmbDims, 4).count()
      }
      law(nTopk == 1000L, s"ivf rows=$nTopk expect=1000")
    }
    spark.stop()
  }
}
