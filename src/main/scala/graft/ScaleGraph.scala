package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ext.Graph

/** Scale-evidence harness for the GRAPH kernel family (ext/Graph —
  * the one measured-curve gap left after Scale/ScaleDedup/ScaleStream/
  * ScaleRank/ScaleMaintain/ScaleSelect): each kernel runs on a
  * LAW-GENERATED graph whose exact answer has a closed form, so every
  * timing is simultaneously a correctness proof at full size — no
  * sampled spot checks.
  *
  *  1. CONNECTED COMPONENTS on block chains (nodes 0..N−1, edge
  *     i—i+1 within blocks of B): components are the blocks, every
  *     label = ⌊i/B⌋·B, so Σlabels = B²·nb(nb−1)/2 exactly. B=64
  *     exceeds the min-label fast path's 25-round diameter bound, so
  *     the run EXERCISES THE LARGE-STAR/SMALL-STAR FALLBACK — the
  *     log-round kernel a 100 TB diameter can't dodge.
  *  2. K-CORE on mixed cliques (first half of the nodes in 32-cliques,
  *     second half in 8-cliques, k=16): the 8-cliques peel in ONE
  *     round (every degree 7 < 16 simultaneously), the 32-cliques are
  *     exactly the core — count = N/2, every degree 31.
  *  3. BFS LEVELS on the D-hypercube (i — i⊕2^b): distance from 0 IS
  *     popcount(i), so Σlevels = D·2^(D−1) exactly; frontier growth is
  *     exponential (the favorable shape) but depth D exercises D full
  *     join rounds.
  *
  * Measured (local[32], defaults, all laws exact): CC 4M chain nodes
  * (62,500 components, diameter 63) 101.4 s with the default 25
  * fast-path rounds vs **53.8 s** handing to the star kernel after 5
  * — on high-diameter graphs every extra propagation round is one
  * full-size join that moves labels ONE hop, while a star round
  * halves pointer depth; the default suits the low-diameter social
  * graphs the co-purchase queries run on, and the knob is the
  * remedy when diameter is unknown. K-core 1M nodes / 7.8M edges
  * 17.7 s (exactly 500,000 survivors, every degree 31). BFS 2^20
  * hypercube (10.5M edges, 20 full rounds) 28.9 s (level-sum
  * D·2^(D−1) exact).
  *
  * Usage: runMain graft.ScaleGraph [chainNodes] [cliqueNodes] [dim]
  * (defaults 4M chain nodes / B=64, 1M clique nodes ≈ 7.8M edges,
  * D=20 hypercube = 1M nodes / 10.5M edges / 20 rounds).
  */
object ScaleGraph {
  def main(args: Array[String]): Unit = {
    val chainN = args.headOption.map(_.toLong).getOrElse(4000000L)
    val cliqueN = args.drop(1).headOption.map(_.toLong).getOrElse(1000000L)
    val dim = args.drop(2).headOption.map(_.toInt).getOrElse(20)
    val B = 64L // chain block size (> the 25-round fast-path bound)
    val spark = Session.local(Session.cpus(32))

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scalegraph] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }

    // ---- 1. CC on block chains ----------------------------------------
    val chain: DataFrame = spark.range(chainN - 1)
      .filter((col("id") + 1) % B =!= 0)
      .select(col("id").as("u"), (col("id") + 1).as("v"))
    val nb = chainN / B
    val wantCc = BigInt(B) * BigInt(B) * BigInt(nb) * BigInt(nb - 1) / 2
    // high diameter punishes the min-label fast path (1 hop/round);
    // handing over to the log-round star kernel EARLY is the win —
    // measure both handover points on the same graph
    for (fastRounds <- Seq(25, 5)) {
      val ccSum = timed(s"cc       chains n=$chainN fastRounds=$fastRounds") {
        Graph.connectedComponents(chain, maxIter = fastRounds)
          .agg(sum("cluster_id"), count(lit(1))).head()
      }
      require(BigInt(ccSum.getLong(0)) == wantCc && ccSum.getLong(1) == chainN,
        s"cc law violated: ${ccSum.getLong(0)}/$wantCc rows=${ccSum.getLong(1)}")
    }
    println(s"[scalegraph] cc law ok: ${nb} components, label-sum $wantCc")

    // ---- 2. k-core on mixed cliques -----------------------------------
    // region bounds aligned to the clique sizes — a straddling partial
    // block would be a smaller clique and peel, breaking the law
    val half = (cliqueN / 2 / 32) * 32
    val top = half + ((cliqueN - half) / 8) * 8
    def cliques(lo: Long, hi: Long, m: Long): DataFrame = {
      val ids = spark.range(lo, hi)
      ids.select((col("id") / m).cast("long").as("blk"), col("id").as("u"))
        .join(ids.select((col("id") / m).cast("long").as("blk"),
          col("id").as("v")), "blk")
        .filter(col("u") < col("v")).select("u", "v")
    }
    // 8-cliques live above `half`; block math keyed off the id itself
    val edges = cliques(0L, half, 32L).union(cliques(half, top, 8L))
    val core = timed(s"kcore    cliques n=$cliqueN k=16") {
      Graph.kCore(edges, k = 16, iters = 4)
        .agg(count(lit(1)), sum("deg"), min("id"), max("id")).head()
    }
    require(core.getLong(0) == half && core.getLong(1) == half * 31L &&
      core.getLong(3) < half,
      s"kcore law violated: ${core.getLong(0)} survivors (want $half), " +
        s"deg-sum ${core.getLong(1)} (want ${half * 31L})")
    println(s"[scalegraph] kcore law ok: $half survivors, all degree 31")

    // ---- 3. BFS on the hypercube --------------------------------------
    val n3 = 1L << dim
    val cube = spark.range(n3).select(col("id").as("u"))
      .crossJoin(spark.range(dim).select(col("id").as("b")))
      .select(col("u"),
        expr("u ^ shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))").as("v"))
      .filter(col("u") < col("v"))
    val bfs = timed(s"bfs      hypercube 2^$dim rounds=$dim") {
      Graph.bfsLevels(cube, source = 0L, maxDepth = dim)
        .agg(sum("lvl"), count(lit(1))).head()
    }
    val wantBfs = BigInt(dim) * BigInt(2).pow(dim - 1)
    require(BigInt(bfs.getLong(0)) == wantBfs && bfs.getLong(1) == n3,
      s"bfs law violated: ${bfs.getLong(0)}/$wantBfs rows=${bfs.getLong(1)}")
    println(s"[scalegraph] bfs law ok: level-sum $wantBfs over $n3 nodes")

    println(s"[scalegraph] done chainN=$chainN cliqueN=$cliqueN dim=$dim")
    spark.stop()
  }
}
