package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.Column
import graft.functions.Functions.{dotProduct, l2Norm, toDoubleArray}
import TextHash.hyperplanes

/** Similarity search over embedding columns (array<float>) — the
  * ANN half of the training-data-pipeline operator pack.
  *
  * Determinism: all arithmetic is double-precision sequential folds
  * (functions.aggregate / zip_with), which both Spark and the DuckDB
  * oracle execute as the same IEEE operation sequence — results are
  * bit-identical across engines and across cluster sizes (no
  * reduction-order dependence).
  *
  * Scale: the brute-force path broadcasts the (small) query set and
  * streams the corpus once — correct baseline, O(|corpus|·|queries|).
  * The LSH path replaces that with an equi-join on a sign-hyperplane
  * bucket key, making candidate generation O(collisions): the plan is
  * scan → hash join, never a product against the full corpus.
  */
object Similarity {

  /** Scale-adaptive signature width: enough hyperplane bits that the
    * EXPECTED bucket occupancy stays ≈ targetPerBucket regardless of
    * corpus size — so the bucketed self-join costs
    * O(N · targetPerBucket), linear in N, instead of degenerating
    * toward N²/2^bits under a fixed width. bitsFor(500)=4,
    * bitsFor(2000)=6, bitsFor(1e6)=15, bitsFor(1e9)=25 — at 100 TB the
    * signature keeps growing and per-bucket work stays bounded.
    * (Recall at larger widths comes from multi-probe / multi-table
    * banding — same join shape, more probe keys — not from shrinking
    * the signature.)
    */
  def bitsFor(corpusSize: Long, targetPerBucket: Int = 32): Int =
    math.max(4, math.ceil(
      math.log((corpusSize.toDouble / targetPerBucket).max(1.0)) /
        math.log(2.0)).toInt)

  /** Sign-LSH bucket signature: bit j set iff the embedding's dot
    * product with deterministic ±1 hyperplane j is positive. One native
    * codegen'd pass over the embedding against the whole plane matrix
    * (graft.plans.SignSignatureExpr) — the previous per-plane HOF folds
    * evaluated `bits` interpreted lambdas per row; per-plane dots keep
    * the identical left-to-right IEEE fold, so signatures (and every
    * oracle hash derived from them) are bit-identical.
    */
  def signSignature(emb: Column, bits: Int, dims: Int): Column =
    graft.plans.VectorExprs.signSignature(emb, hyperplanes(bits, dims))

  /** Cosine from PRE-COMPUTED norms: every operator here scores
    * candidate PAIRS, so evaluating the two L2 norms per pair would be
    * O(pairs)·dims work for values that only depend on the vectors —
    * O(N) of them. Each side carries its norm through the join and the
    * per-pair cost is one dot product. Identical IEEE operations to
    * Functions.cosineSim (null on zero norms), just not re-evaluated
    * per pair — results are bit-identical.
    */
  private def cosineFromNorms(a: Column, na: Column, b: Column, nb: Column): Column = {
    val denom = na * nb
    when(denom === 0.0, lit(null)).otherwise(dotProduct(a, b) / denom)
  }

  /** Exact top-k cosine neighbors for a query subset, brute force:
    * broadcast-nested-loop of queries × corpus (queries side is small by
    * contract), per-partition cosine, then a bounded rank window
    * partitioned by query. The window partitions by query id, so no
    * global single-partition sort.
    */
  def bruteForceTopK(vectors: DataFrame, idCol: String, embCol: String,
                     queries: DataFrame, k: Int): DataFrame = {
    val corpus = vectors.select(col(idCol).as("nbr_id"),
      toDoubleArray(col(embCol)).as("nbr_emb"))
      .withColumn("nbr_nrm", l2Norm(col("nbr_emb")))
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleArray(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
    val scored = corpus.join(broadcast(q), col("nbr_id") =!= col("query_id"))
      .withColumn("cosine", cosineFromNorms(col("q_emb"), col("q_nrm"),
        col("nbr_emb"), col("nbr_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
  }

  /** Approximate top-k via sign-LSH buckets with MULTI-PROBE: each
    * query probes its own bucket plus every Hamming-distance-1 bucket
    * (one flipped signature bit) — the standard recall lever as the
    * signature widens with corpus size (bitsFor): a near neighbor that
    * lands one hyperplane away is still found, and the join stays an
    * equi-join on the signature. Probing happens on the QUERY side
    * (small by contract), so the corpus carries one signature row and
    * the broadcast grows only by (bits+1)×. Probe keys are distinct
    * values, so no candidate is matched twice. Deterministic (fixed
    * hyperplanes).
    */
  def lshTopK(vectors: DataFrame, idCol: String, embCol: String,
              queries: DataFrame, k: Int, bits: Int, dims: Int): DataFrame = {
    val corpus = signedCorpus(vectors, idCol, embCol, bits, dims)
    val probes = (0 until bits).foldLeft(array(col("qsig"))) { (acc, j) =>
      array_append(acc, col("qsig").bitwiseXOR(lit(1L << j)))
    }
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleArray(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
      .withColumn("qsig", signSignature(col("q_emb"), bits, dims))
      .withColumn("sig", explode(probes))
      .drop("qsig")
    val scored = corpus.join(broadcast(q), Seq("sig"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cosine", cosineFromNorms(col("q_emb"), col("q_nrm"),
        col("nbr_emb"), col("nbr_nrm")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
  }

  /** Mean-sum quantum: components are snapped to a 1e-6 grid before the
    * distributed sum (see bucketCentroids). Shared with the DuckDB
    * oracle SQL.
    */
  val MeanQuantum = 1000000.0

  /** The signed corpus — (nbr_id, nbr_emb, nbr_nrm, sig) — is the IVF
    * INDEX every consumer below reads: the signature (bits × dims of
    * interpreted higher-order-function arithmetic per row) is by far the
    * most expensive projection in this file, so it must be evaluated
    * exactly once per corpus, not once per consumer.
    */
  private def signedCorpus(vectors: DataFrame, idCol: String, embCol: String,
                           bits: Int, dims: Int): DataFrame =
    vectors.select(col(idCol).as("nbr_id"),
      toDoubleArray(col(embCol)).as("nbr_emb"))
      .withColumn("nbr_nrm", l2Norm(col("nbr_emb")))
      .withColumn("sig", signSignature(col("nbr_emb"), bits, dims))

  /** Centroid build over an ALREADY-SIGNED corpus — one aggregation
    * chain: posexplode to (sig, pos, x), quantized order-independent
    * long sums per (sig, pos) (map-side combinable: each input partition
    * reduces to ≤ 2^bits·dims rows before the exchange), then the tiny
    * (2^bits·dims)-row partial is assembled into centroid arrays. The
    * second groupBy shuffles centroid-sized data only — never the corpus.
    *
    * Reproducible distributed float math: each component is quantized to
    * the 1e-6 grid — ONE double multiply then a round-half-away-from-zero,
    * operations both Spark and DuckDB evaluate bit-identically — and the
    * per-position sums run over exact BIGINTs, which are
    * ORDER-INDEPENDENT across partitions and cluster sizes; one
    * double division sequence at the end recovers the mean. A plain
    * double sum would drift with partitioning at scale, and a
    * DECIMAL(38,18) cast is NOT cross-engine exact (Spark converts
    * double→decimal through the shortest round-trip decimal string,
    * DuckDB through the exact binary expansion — last-ulp divergence on
    * every irrational-looking component). The 1e-6 input snap is the
    * documented determinism contract of this operator; for a coarse
    * quantizer it is far below any semantic signal.
    */
  private def centroidsOf(signed: DataFrame): DataFrame =
    quantizedMeans(signed.select(col("sig"), col("nbr_emb")), "sig")

  /** The quantized-mean aggregation chain over (keyCol, nbr_emb) rows —
    * shared by the LSH-bucket quantizer (key = sig) and the Lloyd
    * refinement rounds (key = cluster). Output: (keyCol, n, centroid).
    */
  private def quantizedMeans(rows: DataFrame, keyCol: String): DataFrame =
    rows
      .select(col(keyCol), posexplode(col("nbr_emb")).as(Seq("pos", "x")))
      .groupBy(col(keyCol), col("pos"))
      .agg(sum(round(col("x") * lit(MeanQuantum)).cast("long")).as("sq"),
        count(lit(1)).as("n"))
      .groupBy(col(keyCol))
      .agg(
        first(col("n")).as("n"), // same for every position of a bucket
        transform(sort_array(collect_list(struct(col("pos"),
          (col("sq").cast("double") / lit(MeanQuantum) / col("n")).as("mean")))),
          p => p.getField("mean")).as("centroid"))

  /** Per-bucket centroids — the coarse quantizer of an IVF index: mean
    * embedding of every sign-LSH bucket, plus the bucket population.
    * (With centroids on hand, IVF search = score query × centroids,
    * then scan only the nearest cells — same equi-join shape as lshTopK
    * with the centroid id as the key.)
    */
  def bucketCentroids(vectors: DataFrame, idCol: String, embCol: String,
                      bits: Int, dims: Int): DataFrame =
    centroidsOf(signedCorpus(vectors, idCol, embCol, bits, dims))

  /** Flat form of the coarse quantizer — one row per (bucket, position)
    * with scalar columns only: (sig, pos, mean, n). This is the
    * verification surface (scalar columns hash/compare cleanly across
    * engines); it is DERIVED from the array form by a posexplode of the
    * centroid — the array build is the one aggregation chain, never run
    * twice.
    */
  def bucketCentroidsFlat(vectors: DataFrame, idCol: String, embCol: String,
                          bits: Int, dims: Int): DataFrame =
    bucketCentroids(vectors, idCol, embCol, bits, dims)
      .select(col("sig"), posexplode(col("centroid")).as(Seq("pos", "mean")),
        col("n"))

  /** IVF top-k search over the bucketCentroids index: score each query
    * against the (tiny — 2^bits rows, broadcast) centroid table, keep
    * its nProbe nearest CELLS, then scan only those cells' members via
    * an equi-join on the cell id and rank exactly. The query×centroid
    * scoring is a broadcast nested loop against a bounded table — the
    * same justified shape as the brute-force baseline, but against
    * 2^bits centroids instead of N vectors; the corpus-side work is
    * O(nProbe · occupancy) per query at any corpus size. Deterministic:
    * cell ranking ties break on the cell id, neighbor ties on the
    * neighbor id.
    */
  def ivfTopK(vectors: DataFrame, idCol: String, embCol: String,
              queries: DataFrame, k: Int, bits: Int, dims: Int,
              nProbe: Int): DataFrame = {
    // The signed corpus is the IVF index: materialize it ONCE
    // (localCheckpoint — eager, executor-resident) and let BOTH the
    // centroid build and the member scan read the materialized rows.
    // Without this the signature subplan appears twice in the DAG and
    // Spark re-evaluates the bits×dims signature arithmetic per
    // consumer. In a deployment the index is a written artifact
    // (a clustered parquet layout) built once and searched many
    // times; localCheckpoint is the in-session analogue of that build.
    val corpus = signedCorpus(vectors, idCol, embCol, bits, dims)
      .localCheckpoint()
    val cents = centroidsOf(corpus)
      .select(col("sig"), col("centroid"))
      .withColumn("c_nrm", l2Norm(col("centroid")))
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleArray(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
    val cellW = Window.partitionBy(col("query_id"))
      .orderBy(col("c_cos").desc, col("sig"))
    val probed = q.join(broadcast(cents), lit(true))
      .withColumn("c_cos", cosineFromNorms(col("q_emb"), col("q_nrm"),
        col("centroid"), col("c_nrm")))
      .withColumn("crk", row_number().over(cellW))
      .filter(col("crk") <= nProbe)
      .select(col("sig"), col("query_id"), col("q_emb"), col("q_nrm"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    corpus.join(broadcast(probed), Seq("sig"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cosine", cosineFromNorms(col("q_emb"), col("q_nrm"),
        col("nbr_emb"), col("nbr_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
  }

  /** Two-stage quantized ANN: integer-code prefilter → exact float
    * re-rank — q145's int8 storage layer made SEARCHABLE, the
    * deployment shape of vector search over a quantized corpus. Stage
    * 1 scores every corpus vector against each query by the integer
    * dot product of their quantization codes: pure int64 arithmetic
    * (bit-identical on any engine — no IEEE anywhere in the stage that
    * touches the whole corpus) over 4× less data than float32, which
    * is why int8 search exists. Stage 2 re-ranks only the top
    * `nCandidates` per query with the exact double cosine (the q28
    * determinism contract).
    *
    * Scale shape: the code table is the written index artifact
    * (localCheckpoint here, clustered parquet in deployment); stage 1
    * is an equi-join on dim against the broadcast Q·dims query codes
    * plus a partial-aggregable sum — linear in corpus size for a fixed
    * query set; stage 2 touches Q·nCandidates rows. Recall loss vs
    * exact brute force is the quantizer's approximation — bounded by
    * the per-dimension step, and recovered by raising nCandidates.
    */
  def quantizedRerankTopK(vectors: DataFrame, idCol: String, embCol: String,
                          queries: DataFrame, k: Int, levels: Int,
                          nCandidates: Int): DataFrame = {
    require(nCandidates >= k,
      s"nCandidates ($nCandidates) must be >= k ($k)")
    // the int8 index artifact: built once, searched many times
    val codes = VectorStats.quantizeUniform(vectors, idCol, embCol, levels)
      .localCheckpoint()
    val qc = codes
      .join(broadcast(queries.select(col(idCol).as("vec_id"))), "vec_id")
      .select(col("vec_id").as("query_id"), col("dim"),
        col("code").cast("long").as("qcode"))
    val candW = Window.partitionBy(col("query_id"))
      .orderBy(col("dot_q").desc, col("nbr_id"))
    val cands = codes.join(broadcast(qc), Seq("dim"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("code").cast("long") * col("qcode")).as("dot_q"))
      .withColumn("crk", row_number().over(candW))
      .filter(col("crk") <= nCandidates)
      .select(col("query_id"), col("nbr_id"))
    val qe = queries.select(col(idCol).as("query_id"),
        toDoubleArray(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
    val corpus = vectors.select(col(idCol).as("nbr_id"),
      toDoubleArray(col(embCol)).as("nbr_emb"))
      .withColumn("nbr_nrm", l2Norm(col("nbr_emb")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("nbr_id"))
    corpus.join(broadcast(cands.join(broadcast(qe), Seq("query_id"))),
        Seq("nbr_id"))
      .withColumn("cosine", cosineFromNorms(col("q_emb"), col("q_nrm"),
        col("nbr_emb"), col("nbr_nrm")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("cosine"), col("rank"))
  }

  /** Lloyd (k-means) refinement of the IVF coarse quantizer: `iters`
    * rounds of assign-to-nearest-centroid (cosine; deterministic
    * tie-break on the cluster id) + quantized mean recompute,
    * initialized from the sign-LSH bucket centroids — the "train the
    * quantizer" step between the hash-bucket quantizer (q43) and IVF
    * search (q45). Initialization is deterministic (fixed hyperplanes),
    * every round's arithmetic is the bucketCentroids determinism
    * contract (1e-6-grid long sums, one double division sequence), and
    * assignment ranking uses bit-identical cosines — so the trained
    * centroids are reproducible across engines, partitionings, and
    * cluster sizes, with NO RNG anywhere (classic k-means++ is seeded;
    * this is the zero-RNG analogue: LSH buckets are the seeding).
    *
    * Scale shape per round: ONE broadcast of the centroid table
    * (≤ 2^bits rows) against the materialized signed corpus, a
    * per-vector bounded rank window (partitioned by vector id — never a
    * global sort), then the map-side-combinable quantized-mean
    * aggregation. Lineage is cut per round (localCheckpoint on
    * centroid-sized data only). At 100 TB quantizer training runs on a
    * bounded SAMPLE of the corpus (industry IVF practice), then the
    * trained centroids assign the full corpus — the per-round plan here
    * is exactly that assignment job. A cluster that loses every member
    * drops out (plain Lloyd, no re-seeding — deterministic).
    *
    * Flat verification form: one scalar row per (cluster, pos).
    */
  def lloydRefineFlat(vectors: DataFrame, idCol: String, embCol: String,
                      bits: Int, dims: Int, iters: Int): DataFrame = {
    require(iters >= 1, s"iters must be >= 1, got $iters")
    val corpus = signedCorpus(vectors, idCol, embCol, bits, dims)
      .localCheckpoint() // the index build — read by every round
    var cents = quantizedMeans(
      corpus.select(col("sig").as("cluster"), col("nbr_emb")), "cluster")
    for (_ <- 1 to iters) {
      val c = cents.select(col("cluster"), col("centroid"))
        .withColumn("c_nrm", l2Norm(col("centroid")))
      val w = Window.partitionBy(col("nbr_id"))
        .orderBy(col("cos").desc, col("cluster"))
      val assigned = corpus.join(broadcast(c), lit(true))
        .withColumn("cos", cosineFromNorms(col("nbr_emb"), col("nbr_nrm"),
          col("centroid"), col("c_nrm")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") === 1)
        .select(col("cluster"), col("nbr_emb"))
      cents = quantizedMeans(assigned, "cluster").localCheckpoint()
    }
    cents.select(col("cluster"),
      posexplode(col("centroid")).as(Seq("pos", "mean")), col("n"))
  }

  /** Embedding-cosine near-duplicate pairs, LSH-bucketed with
    * MULTI-PROBE: side A of the self-join explodes its signature plus
    * every one-bit flip, so any pair within Hamming distance 1 becomes
    * a candidate (a near-dup that straddles exactly one hyperplane is
    * no longer missed), then exact cosine verifies ≥ threshold. Still
    * never all-pairs — the equi-join touches only (flipped-)bucket
    * collisions, candidate volume grows by (bits+1)× while bitsFor
    * keeps per-bucket occupancy constant, so the plan stays
    * O(N · occupancy · bits) at any corpus size. Probe keys are
    * distinct, so each qualifying pair matches exactly once.
    */
  def nearDupPairs(vectors: DataFrame, idCol: String, embCol: String,
                   threshold: Double, bits: Int, dims: Int): DataFrame = {
    val sigs = vectors.select(col(idCol).as("id"),
      toDoubleArray(col(embCol)).as("emb"))
      .withColumn("nrm", l2Norm(col("emb")))
      .withColumn("sig", signSignature(col("emb"), bits, dims))
    val probes = (0 until bits).foldLeft(array(col("sig"))) { (acc, j) =>
      array_append(acc, col("sig").bitwiseXOR(lit(1L << j)))
    }
    val probed = sigs.select(col("id"), col("emb"), col("nrm"),
      explode(probes).as("sig"))
    probed.as("a")
      .join(sigs.as("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .withColumn("cosine", cosineFromNorms(col("a.emb"), col("a.nrm"),
        col("b.emb"), col("b.nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cosine"))
  }

  /** Left-to-right squared-L2 fold — the PQ distance primitive. Both
    * engines evaluate the identical IEEE sequence (zip then a
    * sequential sum fold), so distances are bit-identical; consumers
    * quantize to integer micro-units before any cross-row reduction
    * (a double SUM across subspaces would be order-dependent).
    */
  private def sqDist(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
      lit(0.0), (acc, x) => acc + x)

  /** PRODUCT QUANTIZATION — the third leg of the deployment ANN stack
    * (IVF = coarse cells, int8 = uniform scalar codes, PQ = per-
    * subspace CODEBOOKS, Jégou et al. 2011 / the Faiss IVF-PQ index):
    * dims split into `m` subspaces, each with a codebook of ≤ 2^bits
    * centroids (zero-RNG seeding: the quantized means of the
    * subvector sign-LSH cells — the q43 discipline per subspace, fixed
    * hyperplanes so train is deterministic at any cluster size), and
    * every vector stored as m small codes (m·bits bits instead of
    * dims·64 — the 100-TB storage story). Search is ADC (asymmetric
    * distance computation): per query, ONE distance table of
    * m · |codebook| exact subvector distances, then every corpus
    * vector's approximate distance is a TABLE LOOKUP SUM over its m
    * codes — the corpus-wide stage touches only the code table.
    *
    * Cross-engine determinism: subvector distances are fixed-order
    * IEEE folds quantized to integer MICRO-UNITS at the fold boundary
    * (`floor(d·10⁶)`), so the per-vector sum over m subspaces is an
    * order-free integer sum; encode argmin and the final rank
    * tie-break on (distance, code/neighbor id).
    *
    * Scale shape: train = one subvector explode (m rows per vector) +
    * the quantized-mean aggregate (map-side combinable, centroid-sized
    * exchange); encode = corpus × broadcast codebook (m·2^bits rows)
    * with a per-(vector, subspace) argmin window; search = the code
    * table equi-joined against the broadcast per-query distance
    * tables + one partial-aggregable sum — linear in corpus size for
    * a fixed query set, no stage ever materializes corpus × corpus.
    */
  /** Subvector explode: one (id, sub, semb) row per subspace. */
  private def pqSubVectors(df: DataFrame, idCol: String, idAs: String,
                           embCol: String, m: Int,
                           subDims: Int): DataFrame =
    df.select(col(idCol).as(idAs), toDoubleArray(col(embCol)).as("_emb"))
      .select(col(idAs), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col("_emb"))
      .withColumn("semb",
        slice(col("_emb"), col("sub") * subDims + 1, lit(subDims)))
      .drop("_emb")

  /** Per-subspace codebooks: quantized means of the subvector sign
    * cells, keys packed (sub, cell) — one aggregate chain,
    * centroid-sized.
    */
  private def pqBooks(corpusSubs: DataFrame, bits: Int,
                      subDims: Int): DataFrame =
    quantizedMeans(
      corpusSubs.select(
        (col("sub") * (1L << bits) +
          graft.plans.VectorExprs.signSignature(col("semb"),
            TextHash.hyperplanes(bits, subDims)))
          .as("_skey"),
        col("semb").as("nbr_emb")), "_skey")
      .select(expr(s"_skey div ${1L << bits}").cast("int").as("sub"),
        pmod(col("_skey"), lit(1L << bits)).as("code"),
        col("centroid"))

  /** Encode: nearest codebook centroid per (vector, subspace) by the
    * quantized squared-L2 (ties → smallest code) → (vec_id, sub, code).
    * The argmin is a `min_by` over a (distance, code) struct — a HASH
    * aggregate with map-side partial combine, so the corpus×codebook
    * candidate rows reduce locally before the one shuffle on
    * (vec_id, sub); the earlier `row_number` window form sorted the
    * full candidate set inside each partition after the shuffle. Same
    * deterministic tie-break (struct order compares distance, then
    * code).
    */
  private def pqEncode(corpusSubs: DataFrame,
                       books: DataFrame): DataFrame =
    corpusSubs.join(broadcast(books), Seq("sub"))
      .withColumn("_d",
        floor(sqDist(col("semb"), col("centroid")) * lit(1e6))
          .cast("long"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(struct(col("_d"), col("code"))).getField("code")
        .as("code"))
      .select(col("vec_id"), col("sub"), col("code"))

  /** The per-query ADC distance table — exact subvector distances to
    * every codebook entry, integer micro-units (broadcast-sized:
    * queries × m × 2^bits rows).
    */
  private def pqDistTable(querySubs: DataFrame,
                          books: DataFrame): DataFrame =
    querySubs.join(broadcast(books), Seq("sub"))
      .withColumn("adist_micro",
        floor(sqDist(col("semb"), col("centroid")) * lit(1e6))
          .cast("long"))
      .select(col("query_id"), col("sub"), col("code"),
        col("adist_micro"))

  def pqTopK(vectors: DataFrame, idCol: String, embCol: String,
             queries: DataFrame, k: Int, m: Int, bits: Int,
             dims: Int): DataFrame = {
    require(dims % m == 0, s"dims ($dims) must split evenly into m ($m)")
    val subDims = dims / m
    val corpusSubs = pqSubVectors(vectors, idCol, "vec_id", embCol, m,
      subDims).localCheckpoint() // the index build — train AND encode
    val books = pqBooks(corpusSubs, bits, subDims)
    val codes = pqEncode(corpusSubs, books)
    val dtable = pqDistTable(
      pqSubVectors(queries, idCol, "query_id", embCol, m, subDims),
      books)
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_micro"), col("nbr_id"))
    codes.join(broadcast(dtable), Seq("sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("adist_micro")).as("adist_micro"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("adist_micro"),
        col("rank"))
  }

  /** THE COMPOSED IVF-PQ INDEX (Faiss's deployment shape): the coarse
    * quantizer picks each query's nProbe nearest CELLS (q45's probed
    * discipline — query × broadcast centroids, never query × corpus),
    * and the ADC lookup-sum then runs over ONLY those cells' members —
    * per query the scanned code rows drop from O(N·m) to
    * O(nProbe · occupancy · m), the same cost law ivfTopK proves for
    * the float path, now over codes 128× smaller than the vectors.
    * Everything is the composition of proven parts: the coarse cells
    * and centroids are q43/q45's, the codebooks/codes/distance table
    * are q248's, and determinism carries through (integer micro-unit
    * distances, total-order tie-breaks).
    */
  def pqIvfTopK(vectors: DataFrame, idCol: String, embCol: String,
                queries: DataFrame, k: Int, m: Int, bits: Int,
                dims: Int, coarseBits: Int, nProbe: Int): DataFrame = {
    require(dims % m == 0, s"dims ($dims) must split evenly into m ($m)")
    val subDims = dims / m
    // coarse index: full-dim cell per vector + cell centroids
    val corpus = signedCorpus(vectors, idCol, embCol, coarseBits, dims)
      .localCheckpoint()
    val cents = centroidsOf(corpus)
      .select(col("sig"), col("centroid"))
      .withColumn("c_nrm", l2Norm(col("centroid")))
    val q = queries.select(col(idCol).as("query_id"),
      toDoubleArray(col(embCol)).as("q_emb"))
      .withColumn("q_nrm", l2Norm(col("q_emb")))
    val cellW = Window.partitionBy(col("query_id"))
      .orderBy(col("c_cos").desc, col("sig"))
    val probed = q.join(broadcast(cents), lit(true))
      .withColumn("c_cos", cosineFromNorms(col("q_emb"), col("q_nrm"),
        col("centroid"), col("c_nrm")))
      .withColumn("crk", row_number().over(cellW))
      .filter(col("crk") <= nProbe)
      .select(col("query_id"), col("sig"))
    // PQ artifacts (q248's train + encode, unchanged)
    val corpusSubs = pqSubVectors(vectors, idCol, "vec_id", embCol, m,
      subDims).localCheckpoint()
    val books = pqBooks(corpusSubs, bits, subDims)
    val codes = pqEncode(corpusSubs, books)
    val dtable = pqDistTable(
      pqSubVectors(queries, idCol, "query_id", embCol, m, subDims),
      books)
    // cell-restricted ADC: member codes of probed cells only
    val members = corpus.select(col("nbr_id").as("vec_id"), col("sig"))
      .join(broadcast(probed), Seq("sig"))
      .select(col("query_id"), col("vec_id"))
    val rankW = Window.partitionBy(col("query_id"))
      .orderBy(col("adist_micro"), col("nbr_id"))
    members.join(codes, Seq("vec_id"))
      .join(broadcast(dtable), Seq("query_id", "sub", "code"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id").as("nbr_id"))
      .agg(sum(col("adist_micro")).as("adist_micro"))
      .withColumn("rank", row_number().over(rankW))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("nbr_id"), col("adist_micro"),
        col("rank"))
  }

  /** Cell-exact cosine pair edges — the SemDeDup edge set without the
    * domination fold: every same-cell pair (id_a < id_b) at/above
    * `threshold`, one equi-join on the cell id (O(N · occupancy),
    * never all-pairs). [[semDeDup]] consumes these pairwise; the
    * cluster form ([[graft.ext.Graph.connectedComponents]] over this
    * edge set) is the transitive-closure reading — semantic duplicate
    * GROUPS rather than per-vector domination.
    */
  def semDupPairs(vectors: DataFrame, idCol: String, embCol: String,
                  threshold: Double, bits: Int, dims: Int): DataFrame = {
    val corpus = signedCorpus(vectors, idCol, embCol, bits, dims)
      .localCheckpoint()
    corpus.as("a")
      .join(corpus.as("b"),
        col("a.sig") === col("b.sig") &&
          col("a.nbr_id") < col("b.nbr_id"))
      .withColumn("cosine", cosineFromNorms(
        col("a.nbr_emb"), col("a.nbr_nrm"),
        col("b.nbr_emb"), col("b.nbr_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.nbr_id").as("id_a"), col("b.nbr_id").as("id_b"),
        col("cosine"))
  }

  /** EMBEDDING-SPACE benchmark decontamination — the semantic half of
    * the pre-training hygiene pass ([[graft.ext.Dedup.contamination]]
    * is the n-gram half): flag every corpus vector whose cosine to
    * ANY benchmark vector reaches `threshold` — the leak an n-gram
    * check misses when the eval text was paraphrased. Bipartite
    * [[semDupPairs]]: both sides sign into the same LSH cells and
    * pairs are emitted only WITHIN a cell, so the plan is an
    * equi-join on the cell id — O(|corpus| · bench-occupancy), never
    * corpus × benchmark (and the benchmark side is small by nature,
    * so Catalyst broadcasts it). Output: one row per CONTAMINATED
    * corpus vector with its benchmark match count — integer-exact
    * cross-engine (the cosine threshold compares the same
    * deterministic fold the q244 family proves).
    */
  def semContamination(corpus: DataFrame, cIdCol: String, cEmbCol: String,
                       bench: DataFrame, bIdCol: String, bEmbCol: String,
                       threshold: Double, bits: Int,
                       dims: Int): DataFrame = {
    val c = signedCorpus(corpus, cIdCol, cEmbCol, bits, dims)
    val b = signedCorpus(bench, bIdCol, bEmbCol, bits, dims)
      .select(col("sig"), col("nbr_id").as("bench_id"),
        col("nbr_emb").as("bench_emb"), col("nbr_nrm").as("bench_nrm"))
    c.join(b, Seq("sig"))
      .filter(cosineFromNorms(col("nbr_emb"), col("nbr_nrm"),
        col("bench_emb"), col("bench_nrm")) >= threshold)
      .groupBy(col("nbr_id"))
      .agg(count(lit(1)).as("n_bench_matches"))
      .select(col("nbr_id").as("vec_id"), col("n_bench_matches"))
  }

  /** SemDeDup — embedding-space near-dup PRUNING, cluster-first (the
    * public method of Abbas et al., arXiv:2303.09540, recast on this
    * engine's quantizer): the IVF coarse cells (sign-LSH signatures)
    * play the paper's k-means clusters, cosine pairs are emitted only
    * WITHIN a cell, and a vector is pruned iff some same-cell neighbor
    * above `threshold` DOMINATES it by quality — higher `qualityCol`,
    * ties keep the lower id (the q64 argmax-survivor law applied
    * pairwise). One row per vector: (vec_id, sig, quality, pruned).
    *
    * Scale shape: bucketed by construction — the self-join is an
    * equi-join on the cell id, O(N · cell occupancy) under the
    * scale-adaptive signature width (bitsFor), never all-pairs; the
    * quality frame joins once by id before the cell join, so the
    * corpus shuffles twice total (quality join + cell join) at any
    * corpus size. Deterministic: fixed hyperplanes, total domination
    * order.
    */
  def semDeDup(vectors: DataFrame, idCol: String, embCol: String,
               quality: DataFrame, qIdCol: String, qualityCol: String,
               threshold: Double, bits: Int, dims: Int): DataFrame = {
    val corpus = signedCorpus(vectors, idCol, embCol, bits, dims)
      .join(quality.select(col(qIdCol).as("nbr_id"),
        col(qualityCol).cast("long").as("q")), "nbr_id")
      .localCheckpoint() // the index: built once, read by both sides
    val dominated = corpus.as("a")
      .join(corpus.as("b"),
        col("a.sig") === col("b.sig") &&
          col("a.nbr_id") =!= col("b.nbr_id") &&
          (col("b.q") > col("a.q") ||
           (col("b.q") === col("a.q") &&
             col("b.nbr_id") < col("a.nbr_id"))))
      .withColumn("cosine", cosineFromNorms(
        col("a.nbr_emb"), col("a.nbr_nrm"),
        col("b.nbr_emb"), col("b.nbr_nrm")))
      .filter(col("cosine") >= threshold)
      .select(col("a.nbr_id").as("pruned_id")).distinct()
    corpus.select(col("nbr_id").as("vec_id"), col("sig"), col("q"))
      .join(dominated, col("vec_id") === col("pruned_id"), "left")
      .select(col("vec_id"), col("sig"), col("q").as("quality"),
        col("pruned_id").isNotNull.as("pruned"))
  }
}
