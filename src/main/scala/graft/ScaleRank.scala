package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Encoding, Interleave}

/** Scale-evidence harness for the bucketed prefix-sum rank kernel
  * (ext/Interleave.bucketedGroupRank, backing q139's interleave and
  * q141's exact-quota split): the claim under test is that the
  * window-function form of per-group ranking degrades with FEW groups
  * (one task sorts an entire group — the whole corpus, for the global
  * rank), while the kernel's parallelism is #buckets regardless of
  * group count. Both forms are run over the same law-generated rows
  * (`id = i·7 + i mod 5`, group = i mod G) and their outputs are
  * checksum-compared (sum of id·rank over a sample), so the speedup is
  * measured on provably identical results.
  *
  * Measured shape (60M rows, local[32], min over 3 harness runs — the
  * shared host carries the same co-tenant variance BENCH lineage
  * documents): the kernel wins exactly where the window form loses its
  * parallelism — GLOBAL rank 2.3 s vs 27.1 s (~12×, bucket-parallel vs
  * ONE sort task) and G=4 grouped rank 19.1 s vs 53.5 s (2.8×, four
  * sort tasks) — and LOSES when groups already saturate the cores
  * (G=4096: window 7.4 s vs kernel 16.6 s even at the right width;
  * per-group sorts are parallel enough, the kernel's extra exchange is
  * pure overhead). Width matters when groups are many: 2^16-wide
  * buckets at G=4096 made a 26M-row counts table (≈2 rows per
  * (group, bucket)) whose offsets join stopped broadcasting — 68 s;
  * 2^24 restores the metadata-sized plan. Hence the sizing law the
  * kernel's doc carries: keep groups × buckets small enough to
  * broadcast, widen buckets as group count grows, and when group count
  * alone saturates the cluster, use the plain window.
  */
object ScaleRank {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toLong).getOrElse(20000000L)
    val spark = Session.local(Session.cpus(32))
    import spark.implicits._

    def timed(name: String)(f: => Long): Long = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scalerank] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s  (checksum $r)")
      r
    }

    // width per the sizing law: groups × buckets must stay a broadcast
    for ((groups, width) <- Seq((4, 1L << 16), (4096, 1L << 24))) {
      val rows = spark.range(n).select(
        (col("id") * 7L + pmod(col("id"), lit(5L))).as("rid"),
        pmod(col("id"), lit(groups.toLong)).cast("string").as("g"))
        .localCheckpoint() // both forms rank the SAME materialized input
      // checksum: sum over rows of rank · (rid mod 1009) — order-free,
      // integer, equal iff the rank assignments agree everywhere
      def checksum(df: org.apache.spark.sql.DataFrame): Long =
        df.select(sum(col("r") * pmod(col("rid"), lit(1009L))).as("c"))
          .as[Long].head()

      val w = timed(s"window  rank G=$groups n=$n") {
        checksum(rows.withColumn("r",
          row_number().over(Window.partitionBy("g").orderBy("rid"))
            .cast("long")))
      }
      val k = timed(s"kernel  rank G=$groups n=$n w=$width") {
        checksum(Interleave.bucketedGroupRank(rows, Seq("g"), col("rid"),
          width, Seq(col("rid")), "r"))
      }
      require(w == k, s"rank checksums diverge at G=$groups: $w vs $k")

      val wg = timed(s"window GLOBAL rank n=$n (G=$groups run)") {
        checksum(rows.withColumn("r",
          row_number().over(Window.orderBy("rid")).cast("long")))
      }
      val kg = timed(s"kernel GLOBAL rank n=$n (G=$groups run)") {
        checksum(Interleave.bucketedGroupRank(rows, Nil, col("rid"),
          1L << 16, Seq(col("rid")), "r"))
      }
      require(wg == kg, s"global checksums diverge at G=$groups: $wg vs $kg")
    }

    // ---- huge-vocab STRING dictionary (ext/Encoding, the q162 scale
    // path): sorted-distinct label ids over an embedding-table-scale
    // vocabulary. The window form is ONE task sorting every term; the
    // bucketed form (2-byte UTF-8 prefix buckets) is the global-rank
    // kernel specialized to string order. Terms are base-36 renderings
    // of a bijective odd-multiplier map — all distinct, prefixes spread
    // over ~36² buckets (the shape a real token vocabulary has).
    {
      val v = math.min(n, 10000000L)
      val vocab = spark.range(v).select(
        conv(pmod(col("id") * 2654435761L, lit(1L << 30)).cast("string"),
          10, 36).as("term"))
        .localCheckpoint()
      // order-free integer checksum over the (term, id) assignment —
      // equal iff both forms produce the identical dictionary
      def dictChecksum(df: org.apache.spark.sql.DataFrame): Long =
        df.select(sum((col("term_id") + 1L) *
          pmod(xxhash64(col("term")), lit(1009L))).as("c")).as[Long].head()
      val dw = timed(s"window  dictionary V=$v") {
        dictChecksum(Encoding.dictionary(vocab, "term", "term_id"))
      }
      val dk = timed(s"kernel  dictionary V=$v (dictionaryBucketed)") {
        dictChecksum(Encoding.dictionaryBucketed(vocab, "term", "term_id"))
      }
      require(dw == dk, s"dictionary checksums diverge: $dw vs $dk")
    }
    spark.stop()
  }
}
