package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Changelog, Sinks}
import graft.transform.Rollup

/** Scale-evidence harness for the MAINTENANCE stack (dev aid, not
  * driver contract) — completes the measured-curve quartet (Scale:
  * batch/layout; ScaleDedup: dedup/ANN; ScaleStream: streaming state;
  * ScaleRank: the rank kernel) for the write-heavy family the sf0.1
  * bench times only end-to-end (q128 rollup maintenance, q129/q137
  * changelog time travel + checkpoint, q131 streaming IVM). The gate
  * proves those CORRECT; this harness measures the three growth laws a
  * 100 TB deployment plans capacity against, each law-checkable by
  * construction (pure column arithmetic, no RNG):
  *
  *  1. COMMIT COST IS O(delta), flat in history length — appending
  *     commit #40 to a changelog must cost the same as commit #1,
  *     because `commitIdempotent` writes only its own `_commit=<v>`
  *     directory and never reads the log. If this curve tilted, a
  *     continuously-maintained table would slow down forever.
  *  2. SNAPSHOT COST GROWS with the unfolded history — `snapshotAt`
  *     reads every commit ≤ v (that is the MVCC read amplification) —
  *     and `checkpoint(v)` COLLAPSES it back to base-read cost. The
  *     pair of numbers (pre/post-checkpoint snapshot seconds) is the
  *     retention policy's price tag.
  *  3. ROLLUP MERGE COST IS FLAT in generation count — the served
  *     aggregate stays K keys no matter how many increments have been
  *     merged, so generation #20 costs what generation #1 did. Spread
  *     vs clustered deltas bound the rewrite: cost ∝ TOUCHED BUCKETS
  *     (all 32 when the delta's keys hash everywhere — the honest
  *     worst case — vs a pruned subset when the delta clusters), never
  *     ∝ generations applied.
  *
  *  4. (round 12) THE DELETE PATH inherits all three: tombstone
  *     commits cost O(delta) exactly like upserts (measured ratio
  *     0.92 over 40 alternating delete/upsert commits at 100k-row
  *     deltas), the ops `snapshotAt` pays the same unfolded-history read
  *     (2.98 s over 41 commits at 2M keys) and `checkpoint`
  *     collapses it 7.0× (0.43 s) — while PHYSICALLY erasing dead
  *     history: the raw API-free read after checkpoint holds exactly
  *     the 1,000,000 live rows and zero tombstones (law-checked).
  *
  * Key/value laws: key k ∈ [0,K); commit c touches exactly the keys
  * with k ≡ c (mod S) and writes value (31c + 7k) mod 1000. With C a
  * multiple of S every key's final value comes from its LAST touching
  * commit c_last(k) = C − S + (k mod S), so the fold's correctness is
  * one integer checksum both sides compute independently. The ops-log
  * law reuses it with parity: odd commits tombstone, even commits
  * re-upsert, so a key's fate is the parity of c_last(k).
  *
  * Usage: runMain graft.ScaleMaintain [nKeys] [nCommits] [stride]
  * (defaults 2,000,000 keys, 40 commits, stride 20 → 100k-row deltas).
  */
object ScaleMaintain {

  /** Keys touched by commit c: k ≡ c (mod stride); value law above. */
  private def delta(s: SparkSession, keys: Long, stride: Int,
                    c: Int): DataFrame =
    s.range(keys).filter(col("id") % stride === c % stride)
      .select(
        concat(lit("K"), lpad(col("id").cast("string"), 8, "0")).as("stock"),
        ((lit(c.toLong) * 31L + col("id") * 7L) % 1000L).as("value"))

  private def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val nKeys = args.headOption.map(_.toLong).getOrElse(2000000L)
    val nCommits = args.drop(1).headOption.map(_.toInt).getOrElse(40)
    val stride = args.drop(2).headOption.map(_.toInt).getOrElse(20)
    require(nCommits % stride == 0,
      "nCommits must be a multiple of stride so the final-value law is closed")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = Tuning.localIo(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("graft-scale-maintain")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val deltaRows = nKeys / stride

    // ---- law 1: per-commit cost flat as the log grows ----
    val log = Sinks.tmpPath(s"scale_maintain_log_${nKeys}_$nCommits")
    Sinks.deleteRecursively(log)
    val commitSecs = (0 until nCommits).map { c =>
      val (_, secs) = timed(
        Changelog.commitIdempotent(delta(spark, nKeys, stride, c), log, c))
      if (c % 10 == 0 || c == nCommits - 1)
        println(f"[scale-maintain] commit=$c rows=$deltaRows secs=$secs%.2f")
      secs
    }
    val head = commitSecs.slice(1, 6).sum / 5 // skip the warmup commit
    val tail = commitSecs.takeRight(5).sum / 5
    println(f"[scale-maintain] commits=$nCommits deltaRows=$deltaRows " +
      f"firstFive=$head%.2f s lastFive=$tail%.2f s ratio=${tail / head}%.2f " +
      s"flatOk=${tail / head < 2.0}")

    // ---- law 2: snapshot reads the history; checkpoint collapses it ----
    val v = nCommits - 1L
    def check(tag: String): Double = {
      val ((rows, got), secs) = timed {
        val snap = Changelog.snapshotAt(spark, log, Seq("stock"), v)
        val agg = snap.agg(count(lit(1)), sum("value")).head()
        (agg.getLong(0), agg.getLong(1))
      }
      val expect = spark.range(nKeys).select(sum(
        (lit(nCommits.toLong - stride) * 31L +
          (col("id") % stride) * 31L + col("id") * 7L) % 1000L)).head().getLong(0)
      println(f"[scale-maintain] snapshot[$tag] rows=$rows secs=$secs%.2f " +
        s"lawOk=${rows == nKeys && got == expect}")
      require(rows == nKeys && got == expect,
        s"snapshot law violated at $tag: rows=$rows checksum=$got/$expect")
      secs
    }
    val preSecs = check(s"pre-ckpt, ${nCommits} commits")
    val (_, ckptSecs) = timed(
      Changelog.checkpoint(spark, log, Seq("stock"), v))
    val postSecs = check("post-ckpt, 1 base commit")
    println(f"[scale-maintain] checkpoint secs=$ckptSecs%.2f " +
      f"snapshot pre=$preSecs%.2f s post=$postSecs%.2f s " +
      f"collapse=${preSecs / postSecs}%.1fx")

    // ---- law 3: rollup merge flat in generations; cost ∝ touched buckets ----
    def mergeCurve(tag: String, roll: String,
                   genDelta: Int => DataFrame): Seq[Double] = {
      Sinks.deleteRecursively(roll)
      // generation 0: the full base (n_facts=1 per key)
      Rollup.mergeDelta(spark, roll,
        delta(spark, nKeys, 1, 0).groupBy("stock")
          .agg(count(lit(1)).as("n_facts"), sum("value").as("sum_v")),
        Seq("stock"), "n_facts")
      val secs = (1 to stride).map { g =>
        val (_, s0) = timed(Rollup.mergeDelta(spark, roll,
          genDelta(g).groupBy("stock")
            .agg(count(lit(1)).as("n_facts"), sum("value").as("sum_v")),
          Seq("stock"), "n_facts"))
        s0
      }
      val total = spark.read.parquet(roll).agg(sum("n_facts")).head().getLong(0)
      val expect = nKeys + stride.toLong * deltaRows
      println(f"[scale-maintain] merge[$tag] gens=$stride " +
        f"firstFive=${secs.take(5).sum / 5}%.2f s " +
        f"lastFive=${secs.takeRight(5).sum / 5}%.2f s " +
        s"sumFacts=$total lawOk=${total == expect}")
      require(total == expect, s"merge law violated at $tag: $total/$expect")
      secs
    }
    // Keys ≡ g (mod stride) hash into ALL 32 buckets — the honest
    // worst case: every bucket is rewritten every generation (hash
    // layouts spread ANY delta; bucket pruning only wins when a real
    // feed's delta clusters on few keys, e.g. per-symbol upserts —
    // measured on that shape by the sf0.1 gate's q54). The law under
    // test here is flatness ACROSS GENERATIONS: the rewrite is ∝ the
    // served table's K keys, never ∝ how many increments preceded it.
    mergeCurve("spread", Sinks.tmpPath(s"scale_maintain_roll_s_$nKeys"),
      g => delta(spark, nKeys, stride, g))

    // ---- law 4 (round 12): the DELETE path — tombstone commits cost
    // O(delta) like upserts (a delete writes keys+nulls into its own
    // commit dir, never reads the log), the ops snapshot pays the
    // same unfolded-history read amplification and collapses under
    // checkpoint, and the checkpoint PHYSICALLY erases dead
    // history (no tombstone row and no dead key survives in any
    // file). Liveness law: commit 0 upserts every key; commit
    // c ∈ [1, C] touches keys k ≡ c (mod S) — odd commits tombstone,
    // even commits re-upsert under the value law — so a key's fate is
    // the PARITY of its last touching commit c_last(k) = C if
    // k ≡ 0 (mod S) else C − S + (k mod S), and both the expected
    // live count and the expected value checksum derive from pure
    // arithmetic over range(nKeys), independent of the log.
    val ops = Sinks.tmpPath(s"scale_maintain_ops_${nKeys}_$nCommits")
    Sinks.deleteRecursively(ops)
    Changelog.commitUpsert(delta(spark, nKeys, 1, 0), ops, 0L)
    val opsSecs = (1 to nCommits).map { c =>
      val (_, secs) = timed {
        if (c % 2 == 1)
          Changelog.commitDelete(spark,
            delta(spark, nKeys, stride, c).select("stock"), ops, c.toLong)
        else
          Changelog.commitUpsert(delta(spark, nKeys, stride, c), ops, c.toLong)
      }
      if (c % 10 == 0 || c == nCommits) println(
        f"[scale-maintain] ops commit=$c ${if (c % 2 == 1) "DELETE" else "UPSERT"}%s rows=$deltaRows secs=$secs%.2f")
      secs
    }
    val opsHead = opsSecs.slice(1, 6).sum / 5
    val opsTail = opsSecs.takeRight(5).sum / 5
    println(f"[scale-maintain] ops commits=$nCommits firstFive=$opsHead%.2f s " +
      f"lastFive=$opsTail%.2f s ratio=${opsTail / opsHead}%.2f " +
      s"flatOk=${opsTail / opsHead < 2.0}")
    val vOps = nCommits.toLong
    val rr = col("id") % stride
    val cLast = when(rr === 0, lit(nCommits.toLong))
      .otherwise(lit(nCommits.toLong - stride) + rr)
    val liveLaw = cLast % 2 === 0
    val lawAgg = spark.range(nKeys).select(
        sum(when(liveLaw, 1L).otherwise(0L)).as("n"),
        sum(when(liveLaw, (cLast * 31L + col("id") * 7L) % 1000L)
          .otherwise(0L)).as("s")).head()
    val (expN, expS) = (lawAgg.getLong(0), lawAgg.getLong(1))
    def checkOps(tag: String): Double = {
      val ((rows, got), secs) = timed {
        val agg = Changelog.snapshotAt(spark, ops, Seq("stock"), vOps)
          .agg(count(lit(1)), sum("value")).head()
        (agg.getLong(0), agg.getLong(1))
      }
      println(f"[scale-maintain] opsSnapshot[$tag] rows=$rows secs=$secs%.2f " +
        s"lawOk=${rows == expN && got == expS}")
      require(rows == expN && got == expS,
        s"ops snapshot law violated at $tag: $rows/$expN $got/$expS")
      secs
    }
    val opsPre = checkOps(s"pre-ckpt, ${nCommits + 1} commits")
    val (_, opsCkptSecs) = timed(
      Changelog.checkpoint(spark, ops, Seq("stock"), vOps))
    val opsPost = checkOps("post-ckpt, 1 base commit")
    // physical erasure at scale: no tombstone row and no dead key in
    // any surviving file — the raw (API-free) read proves the bytes
    val raw = spark.read.parquet(ops)
    val rawRows = raw.count()
    val deadRows = raw.filter(col(Changelog.OpCol) === "d").count()
    println(f"[scale-maintain] ops checkpoint secs=$opsCkptSecs%.2f " +
      f"snapshot pre=$opsPre%.2f s post=$opsPost%.2f s " +
      f"collapse=${opsPre / opsPost}%.1fx erasureOk=${rawRows == expN && deadRows == 0}")
    require(rawRows == expN && deadRows == 0,
      s"physical erasure violated: raw=$rawRows/$expN tombstones=$deadRows")

    println(f"[scale-maintain] done nKeys=$nKeys commits=$nCommits stride=$stride")
    spark.stop()
  }
}
