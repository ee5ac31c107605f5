package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.ext.{Bpe, Cooccur, Diff, Fuzzy, Graph, Quality, Rolling,
  Sampling, Terms, Transitions, VectorStats}
import graft.sources.{Changelog, Sinks}
import graft.streaming.EventStream

/** Audit / temporal-analytics pack (round 8, fifth widening) — the
  * operator families a production pipeline runs AROUND its data: change
  * auditing (snapshot diff), rolling time-RANGE reporting frames,
  * sliding streaming windows, exact quantile binning, weighted corpus
  * sampling, and sequence transition mining. Every query has a full
  * DuckDB oracle; all fixed-point/decimal determinism contracts are the
  * ones established by q61/q77 (integer ppm) and q01 (decimal sums).
  */
object AuditQueries {

  // Fixed parameters shared by the Spark defs and the oracles.
  private val TrailDays = 7
  private val DiffMod = 97
  private val AddedKeyShift = 2000000000L
  private val DiffCompareCols = Seq("o_orderstatus", "o_totalprice", "o_custkey")
  private val Deciles = 10
  private val WeightSalt = "wsample_v1"
  // the synthetic corpus draws from a ~31-word list — V=20 leaves a
  // real OOV tail at every sf (V=500 would trivially cover everything)
  private val VocabSize = 20
  // pair support = 63% of the corpus: the synthetic term universe is
  // ~31 words with per-language affinity — 63% sits mid-slope of the
  // pair-support distribution, so the frequent-pair graph keeps real
  // structure (neither complete nor empty) at every sf
  private val PairSupportPct = 63
  // release gate (q100): OOV cap sits just above the corpus median
  // (~32% at V=20) so the gate passes most-but-not-all documents
  private val ReleaseOovCapPpm = 350000L
  private val ReleaseSampleSalt = "rel_v1"
  private val DriftSalt = "drift144" // q144: release-half assignment
  private val QuantLevels = 256      // q145: int8 quantizer levels
  private val ReleaseSplitSalt = "rel_split_v1"
  private val ReleaseCuts = Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)
  // q106: merge rounds — enough to produce multi-character subwords
  // over the ~31-word corpus without exhausting pair diversity
  private val BpeRounds = 8

  // unigram-LM trainer knobs (q263): seed 40 multi-char substrings,
  // two hard-EM rounds, 40-piece budget, pieces <= 4 chars, words
  // <= 8 chars (the corpus bound, loudly checked)
  private val UgSeedMulti = 40
  private val UgEmRounds = 2
  private val UgVocabSize = 40
  private val UgMaxPiece = 4
  private val UgMaxWord = 8
  // q112: prefix-2 blocking over the adjective-noun part names keeps
  // blocks plural while excluding cross-first-word matches by contract
  private val FuzzyPrefixLen = 2
  private val FuzzyMaxDist = 3
  // q113: 3 synchronous rounds — labels stabilize on the ~31-term
  // graph by round 3; fixed count keeps the kernel convergence-free
  private val LpaIters = 3

  /** The "new snapshot" for the diff: a deterministic mutation of
    * orders — every 97th key deleted, the next residue's price bumped
    * by 1.00, the one after copied to a fresh key (an insert). The
    * mutation covers all three diff classes with exact arithmetic.
    */
  private def mutatedOrders(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val kept = o.filter(col("o_orderkey") % DiffMod =!= 0)
      .withColumn("o_totalprice",
        when(col("o_orderkey") % DiffMod === 1, col("o_totalprice") + 1.0)
          .otherwise(col("o_totalprice")))
    val added = o.filter(col("o_orderkey") % DiffMod === 2)
      .withColumn("o_orderkey", col("o_orderkey") + AddedKeyShift)
    kept.unionByName(added)
  }

  /** Tombstone OPS-LOG over orders (q181/q182 subject), rebuilt per
    * invocation because committing is the subject (the q129
    * discipline). Three commits with every CDC class planted
    * deterministically:
    *  - commit 0 UPSERTS the base subset (o_orderkey % 4 ≠ 3);
    *  - commit 1 TOMBSTONES every 10th key;
    *  - commit 2 re-inserts every 20th key at price +1000 (the
    *    RESURRECTION — half the deleted keys come back, so delete
    *    followed by re-insert must resolve purely by commit order),
    *    inserts the held-out % 4 = 3 tail, updates keys ≡ 1 (mod 7)
    *    at price +500, and rewrites keys ≡ 2 (mod 7) IDENTICALLY
    *    (the no-op the feed must suppress).
    * All branches are disjoint by arithmetic (mod-10 multiples are
    * even, so they never hit % 4 = 3; the update/no-op branches
    * exclude mod-10 multiples), so no commit carries a duplicate key.
    */
  private[queries] def opsOrders(s: SparkSession, d: String): DataFrame =
    Tables.orders(s, d).select("o_orderkey", "o_custkey", "o_totalprice")

  /** Commit 2's content (shared by the batch log and the streaming
    * landing): resurrections, the held-out insert tail, the mod-7
    * update branch, and the identical no-op rewrite.
    */
  private def opsCommit2(o: DataFrame): DataFrame = {
    val k = col("o_orderkey")
    o.filter(k % 20 === 0)
      .withColumn("o_totalprice", col("o_totalprice") + 1000.0)
      .unionByName(o.filter(k % 4 === 3))
      .unionByName(o.filter(k % 4 =!= 3 && k % 10 =!= 0 && k % 7 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 500.0))
      .unionByName(o.filter(k % 4 =!= 3 && k % 10 =!= 0 && k % 7 === 2))
  }

  /** `name` keeps each caller's rebuild in its own directory: the log
    * is rebuilt per invocation (committing is the subject — the q129
    * discipline) while the returned DataFrame stays lazy, so two
    * queries sharing one path could race a rebuild against a read if
    * the harness ever interleaved them. Sequential execution is the
    * current contract, but per-query paths make the rebuild unable to
    * cross-contaminate regardless.
    */
  private[queries] def opsLog(s: SparkSession, d: String, name: String): String = {
    val path = Sinks.tmpPathFor(name, d)
    Sinks.deleteRecursively(path)
    val o = opsOrders(s, d)
    val k = col("o_orderkey")
    Changelog.commitUpsert(o.filter(k % 4 =!= 3), path, 0L)
    Changelog.commitDelete(s,
      o.filter(k % 4 =!= 3 && k % 10 === 0).select("o_orderkey"), path, 1L)
    Changelog.commitUpsert(opsCommit2(o), path, 2L)
    path
  }

  /** The SAME three deliveries with commit 2 EVOLVING the schema (an
    * added `src` provenance column) — the q185 subject: deletes and
    * evolution on one log, the long-lived-table reality.
    */
  private def opsLogEvolved(s: SparkSession, d: String): String = {
    val path = Sinks.tmpPathFor("orders_ops_log_evo", d)
    Sinks.deleteRecursively(path)
    val o = opsOrders(s, d)
    val k = col("o_orderkey")
    Changelog.commitUpsert(o.filter(k % 4 =!= 3), path, 0L)
    Changelog.commitDelete(s,
      o.filter(k % 4 =!= 3 && k % 10 === 0).select("o_orderkey"), path, 1L)
    Changelog.commitUpsert(opsCommit2(o).withColumn("src", lit("v2")),
      path, 2L)
    path
  }

  /** The same three ops deliveries as landing FILES for the streaming
    * leg (q184), mtimes spaced so the file source orders micro-batches
    * day-by-day (the StreamIvm staging discipline); tombstone rows
    * carry the uniform landing schema with null data columns and
    * op = "d". Memoized per JVM per input dir.
    */
  private val OpsLandingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("o_orderkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("o_custkey",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("o_totalprice",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType)))

  private val opsLandingStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedOpsLanding(s: SparkSession, d: String): String =
    opsLandingStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("orders_ops_landing", d)
      Sinks.deleteRecursively(path)
      val o = opsOrders(s, d)
      val k = col("o_orderkey")
      val days = Seq(
        o.filter(k % 4 =!= 3).withColumn("op", lit("u")),
        o.filter(k % 4 =!= 3 && k % 10 === 0).select(col("o_orderkey"),
          lit(null).cast("bigint").as("o_custkey"),
          lit(null).cast("double").as("o_totalprice"),
          lit("d").as("op")),
        opsCommit2(o).withColumn("op", lit("u")))
      def files() = Option(new java.io.File(path).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - (days.length + 2) * 2000L
      days.foreach { day =>
        val before = files()
        day.coalesce(1).write.mode("append").parquet(path)
        // micro-batch order (and therefore commit-id LWW order) rides
        // on these mtimes — a filesystem that refuses the stamp must
        // fail at staging time, not as a nondeterministic oracle miss
        (files() -- before).foreach(f =>
          require(f.setLastModified(mtime), s"setLastModified failed on $f"))
        mtime += 2000L
      }
      path
    })

  /** Events-shaped landing for the TIMESTAMP-typed sink leg (q209):
    * three mtime-ordered deliveries over the events table keyed by
    * event_id — full upsert, every-7th tombstone, every-10th re-upsert
    * with ts shifted +1 hour and value +5 (resurrecting multiples of
    * 70). The ts column stays TimestampType end to end. Memoized per
    * JVM per input dir, like [[stagedOpsLanding]].
    */
  private val EventsLandingSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("event_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("user_id",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("ts",
      org.apache.spark.sql.types.TimestampType),
    org.apache.spark.sql.types.StructField("event_type",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("value",
      org.apache.spark.sql.types.DoubleType),
    org.apache.spark.sql.types.StructField("op",
      org.apache.spark.sql.types.StringType)))

  private val eventsLandingStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedEventsLanding(s: SparkSession, d: String): String =
    eventsLandingStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("events_ops_landing", d)
      Sinks.deleteRecursively(path)
      val ev = Tables.events(s, d)
        .select("event_id", "user_id", "ts", "event_type", "value")
      val k = col("event_id")
      val days = Seq(
        ev.withColumn("op", lit("u")),
        ev.filter(k % 7 === 0).select(col("event_id"),
          lit(null).cast("bigint").as("user_id"),
          lit(null).cast("timestamp").as("ts"),
          lit(null).cast("string").as("event_type"),
          lit(null).cast("double").as("value"),
          lit("d").as("op")),
        ev.filter(k % 10 === 0)
          .withColumn("ts", col("ts") + expr("INTERVAL 1 HOUR"))
          .withColumn("value", col("value") + 5.0)
          .withColumn("op", lit("u")))
      def files() = Option(new java.io.File(path).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - (days.length + 2) * 2000L
      days.foreach { day =>
        val before = files()
        day.coalesce(1).write.mode("append").parquet(path)
        (files() -- before).foreach(f =>
          require(f.setLastModified(mtime), s"setLastModified failed on $f"))
        mtime += 2000L
      }
      path
    })

  /** Stage the q184/q209 streaming landings outside the timed window
    * (the ScaleQueries.stageFixtures discipline: trial 1 must never
    * time fixture writes — the memo already makes trials 2+ free).
    */
  def stageFixtures(s: SparkSession, d: String): Unit = {
    stagedOpsLanding(s, d): Unit
    stagedEventsLanding(s, d): Unit
    stagedOpsLog(s, d): Unit
  }

  /** The standard 3-commit ops log, staged ONCE per JVM per input dir
    * — for the ~17 queries whose subject is READING that log (snapshot
    * reads, CDF windows, feeds, TVFs, streams, history): the q168/q169
    * `stagedCdfLog` discipline applied to the ops-log family. Queries
    * that MUTATE their log (DML, optimize/checkpoint/vacuum, restore,
    * clone-with-post-commit, stamp/stats markers, column mapping) keep
    * their own per-invocation rebuilds — committing is their subject
    * and a shared fixture must never accrete their markers. Round-19
    * measurement note: before this, every read-subject trial rebuilt
    * the 3-commit fixture inside its timed window (~1.2 s each) —
    * fixture setup, not the declared computation (guide §1.4's
    * time-the-computation rule; OPTIMIZATION_r19.md keeps the old
    * numbers).
    */
  private val opsLogShared = scala.collection.concurrent.TrieMap[String, String]()
  private[queries] def stagedOpsLog(s: SparkSession, d: String): String =
    opsLogShared.getOrElseUpdate(d, opsLog(s, d, "orders_ops_log_shared"))

  /** Ops log over DOCUMENTS keyed by a derived STRING key
    * (`D<doc_id zero-padded to 8>` — order-preserving for numeric
    * ids) — the q202/q203 subject: the q197/q198 commit-skipping
    * story on a string key, with per-commit string min/max (+ null
    * counts) recorded by writeCommitStatsMulti. Same delete-class
    * law as the orders ops log: base upsert, every 10th tombstoned,
    * every 20th resurrected at n_chars+1000, mod-7 updates at +500.
    */
  private[queries] def docsOpsLog(s: SparkSession, d: String,
                                  name: String): String = {
    val path = Sinks.tmpPathFor(name, d)
    Sinks.deleteRecursively(path)
    val base = Tables.documents(s, d)
    val k = col("doc_id")
    def keyed(df: DataFrame) = df.select(
      concat(lit("D"), lpad(col("doc_id").cast("string"), 8, "0"))
        .as("doc_key"),
      col("lang"), col("n_chars"))
    Changelog.commitUpsert(keyed(base), path, 0L)
    Changelog.commitDelete(s,
      keyed(base.filter(k % 10 === 0)).select("doc_key"), path, 1L)
    Changelog.commitUpsert(
      keyed(base.filter(k % 20 === 0)
          .withColumn("n_chars", col("n_chars") + 1000L))
        .unionByName(keyed(base.filter(k % 10 =!= 0 && k % 7 === 1)
          .withColumn("n_chars", col("n_chars") + 500L))),
      path, 2L)
    for (c <- 0L to 2L)
      Changelog.writeCommitStatsMulti(s, path, c, Seq("doc_key"))
    path
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // DELETE-AWARE TIME TRAVEL (the ops log's snapshot): tombstoned
    // keys vanish, resurrected keys resolve by commit order, live
    // rows carry their latest upsert — the lakehouse DELETE semantic
    // the append-only LWW changelog (q129) cannot express. Same
    // kernel cost as q129: partition-pruned scan + one top-1 window
    // compaction; the liveness filter is one predicate AFTER the
    // per-key reduction.
    "q181_ops_snapshot" -> ((s, d) =>
      Changelog.snapshotAt(s, stagedOpsLog(s, d),
        Seq("o_orderkey"), 2L)),

    // FULL-LABEL CHANGE DATA FEED over the ops log: insert / update /
    // DELETE (old values carried on the delete row — the downstream
    // retraction needs them), NET semantics across the window (the
    // delete+re-insert inside (0, 2] collapses to one update), no-op
    // rewrites suppressed. O(delta) like q168: candidates only from
    // the pruned (v0, v1] commits, endpoint states semi-joined to
    // candidates before compaction.
    "q182_ops_cdf" -> ((s, d) =>
      Changelog.changesBetween(s, stagedOpsLog(s, d),
        Seq("o_orderkey"), 0L, 2L, trackCols = Seq("o_totalprice"))),

    // DELETE-AWARE CDF MAINTENANCE — the proof q182's feed is
    // SUFFICIENT for a downstream consumer to maintain an exact
    // aggregate across deletes (q169's contract, extended to the
    // label CDC exists for): start from the per-customer rollup of
    // the AS OF 0 state, apply the feed as signed deltas (insert →
    // +1/+new; update → +new −old; DELETE → −1/−old — the retraction
    // the carried olds make possible), drop groups whose count
    // cancels to zero, and the result must equal the rollup of the
    // AS OF 2 live state — the same oracle as recomputing from
    // q181's snapshot. Integer cents keep the partials exact;
    // suppressed no-op rows contribute zero by construction, so the
    // suppression is proven maintenance-safe in the presence of
    // deletes too. o_custkey rides as a tracked column (constant per
    // key — never classifies) so delete rows can group by their OLD
    // customer.
    "q183_ops_cdf_maintenance" -> ((s, d) => {
      val path = stagedOpsLog(s, d)
      val cents = (c: org.apache.spark.sql.Column) =>
        (round(c * 100)).cast("long")
      val roll0 = Changelog.snapshotAt(s, path, Seq("o_orderkey"), 0L)
        .groupBy("o_custkey")
        .agg(count(lit(1)).as("n_orders"),
          sum(cents(col("o_totalprice"))).as("_c"))
      val ct = col("change_type")
      val delta = Changelog.changesBetween(s, path, Seq("o_orderkey"),
          0L, 2L, trackCols = Seq("o_totalprice", "o_custkey"))
        .groupBy(coalesce(col("new_o_custkey"), col("old_o_custkey"))
          .as("o_custkey"))
        .agg(
          sum(when(ct === "insert", 1L).when(ct === "delete", -1L)
            .otherwise(0L)).as("n_orders"),
          sum(when(ct === "insert", cents(col("new_o_totalprice")))
            .when(ct === "delete", -cents(col("old_o_totalprice")))
            .otherwise(cents(col("new_o_totalprice")) -
              cents(col("old_o_totalprice")))).as("_c"))
      roll0.unionByName(delta)
        .groupBy("o_custkey")
        .agg(sum("n_orders").as("n_orders"), sum("_c").as("_c"))
        .filter(col("n_orders") > 0)
        .select(col("o_custkey"), col("n_orders"),
          (col("_c").cast("double") / 100.0).as("sum_price"))
    }),

    // DELETES + SCHEMA EVOLUTION on one log — the long-lived-table
    // reality (columns get added over years; deletion requests keep
    // arriving): commit 2 carries an added `src` provenance column,
    // the union-schema fold null-fills the pre-evolution survivors,
    // the liveness filter works unchanged (`_op` is in every commit
    // by construction — evolution can never strand a tombstone), and
    // exactly the rows whose latest version is the evolved commit
    // carry the new column — the q143 evolution law, now with the
    // delete classes interleaved.
    "q185_ops_evolved_snapshot" -> ((s, d) =>
      Changelog.snapshotAt(s, opsLogEvolved(s, d),
        Seq("o_orderkey"), 2L, mergeSchema = true)),

    // STREAMING CDC INGESTION into the ops log — the delete path's
    // delivery leg: the three ops commits land as files (mtime-
    // ordered, one per micro-batch), and foreachBatch commits each
    // batch IDEMPOTENTLY under its batchId (the MVCC discipline —
    // a redelivered batch dynamic-overwrites its own commit dir
    // byte-identically; tombstone rows ride the same commit as their
    // batch's upserts). The served snapshot must equal q181's — the
    // same oracle, reached through at-least-once streaming delivery
    // instead of batch commits.
    "q184_stream_ops_ingest" -> ((s, d) => {
      val landing = stagedOpsLanding(s, d)
      val path = Sinks.tmpPathFor("orders_ops_stream", d)
      val ckpt = Sinks.tmpPathFor("orders_ops_stream_ckpt", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(OpsLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            Changelog.commitIdempotent(
              batch.withColumnRenamed("op", Changelog.OpCol),
              path, batchId)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), Long.MaxValue)
    }),

    // OPS CHECKPOINT + VACUUM — q137's bounded-history story for the
    // DELETE path: after the three ops commits, fold commits ≤ 1 into
    // a live-rows-only base (physically erasing the tombstoned keys'
    // data below the horizon), vacuum the superseded dirs, then read
    // AS OF the untouched commit 2. The read must equal the full live
    // state (q181's oracle verbatim) — proof the fold kept every live
    // row, the liveness filter survived the re-tag, and commit 2's
    // resurrections still LWW-beat the folded base. The below-horizon
    // guard is active after this (spec-pinned; an oracle can't see a
    // refusal).
    "q189_ops_checkpoint" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q189")
      Changelog.checkpoint(s, path, Seq("o_orderkey"), 1L)
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), 2L)
    }),

    // AS OF TIMESTAMP time travel — the clock addressing every
    // lakehouse exposes beside version ids: each commit carries a
    // caller-provided timestamp (the ingest's clock — stamps are
    // marker files, immutable, loudly monotone), and "the table as of
    // instant t" resolves to the LATEST commit stamped ≤ t, then
    // reads that version. Commits at 1000/2000/3000; the read at 2500
    // must see exactly the state after commit 1 — commit 2 is already
    // in the log but stamped LATER than the instant, so it must not
    // leak (the q129 invisibility property, addressed by clock
    // instead of version). Guards (instant before the first commit,
    // unstamped commits, non-monotone or mutated stamps) are
    // spec-pinned — an oracle can't see a refusal.
    "q190_time_travel_ts" -> ((s, d) => {
      val path = Sinks.tmpPathFor("orders_ts_log", d)
      Sinks.deleteRecursively(path)
      val o = opsOrders(s, d)
      val k = col("o_orderkey")
      Changelog.commitStamped(o.filter(k % 4 =!= 3), path, 0L, 1000L)
      Changelog.commitStamped(
        o.filter(k % 4 =!= 3 && k % 7 === 1)
          .withColumn("o_totalprice", col("o_totalprice") + 500.0),
        path, 1L, 2000L)
      Changelog.commitStamped(o.filter(k % 4 === 3), path, 2L, 3000L)
      Changelog.snapshotAsOf(s, path, Seq("o_orderkey"), 2500L)
    }),

    // OPS CHECKPOINT, CLUSTERED (OPTIMIZE fused into the fold) — the
    // q189 checkpoint with the live base landed as arithmetic
    // key-range files (ZOrderLayout.rangeClustered: seed-free
    // placement, sorted within each file) so key-range reads over the
    // base prune files instead of scanning all of them. Clustering
    // moves rows between files and never changes them, so the read AS
    // OF commit 2 must still equal the full live state — q189's
    // oracle verbatim; the file-pruning claim itself is spec-pinned
    // (touched-file counts are exact because placement is
    // arithmetic).
    "q191_ops_optimize" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q191")
      val dom = opsOrders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      Changelog.checkpoint(s, path, Seq("o_orderkey"), 1L,
        Some(Changelog.RangeCluster("o_orderkey", dom, 8)))
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), 2L)
    }),

    // ZERO-COPY SHALLOW CLONE (branching) — "CREATE TABLE ... CLONE
    // ... AS OF v": the clone takes commits ≤ 1 as HARDLINKS (no data
    // bytes copied), then DIVERGES — a branch commit resurrects every
    // 20th key at +2000, which the origin never sees. The clone's
    // latest state must be the v=1 live set plus the branch commit
    // under LWW; physical independence (a checkpoint's vacuum on
    // either side cannot destroy bytes the other still links) is
    // spec-pinned — an oracle can't see inode refcounts.
    "q193_ops_clone" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q193")
      val dest = Sinks.tmpPathFor("orders_ops_clone", d)
      Sinks.deleteRecursively(dest)
      Changelog.cloneAt(s, path, dest, 1L)
      Changelog.commitUpsert(
        opsOrders(s, d).filter(col("o_orderkey") % 20 === 0)
          .withColumn("o_totalprice", col("o_totalprice") + 2000.0),
        dest, 2L)
      Changelog.snapshotAt(s, dest, Seq("o_orderkey"), Long.MaxValue)
    }),

    // RESTORE to version v as a NEW commit — roll the DATA back
    // without rolling the LOG back: after the three ops commits,
    // restore to v=1 lands commit 3 as the MINIMAL diff (re-delete
    // commit 2's resurrections and inserts, roll back its updates;
    // keys untouched since v=1 contribute nothing), so the head now
    // serves exactly the v=1 state while every historical snapshot
    // stays readable (spec-pinned, along with the minimal-diff row
    // count and the loud not-above-head guard).
    "q194_ops_restore" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q194")
      Changelog.restoreOps(s, path, Seq("o_orderkey"), 1L, 3L)
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), Long.MaxValue)
    }),

    // STATS-PRUNED POINT LOOKUP — per-commit key-range statistics (the
    // lakehouse data-skipping story at the COMMIT level): markers
    // record each commit's [min, max] o_orderkey, and the lookup skips
    // — driver-side, before any footer opens — every commit whose
    // range excludes the key. Key 20 exercises the full delete cycle
    // through the stats path: upserted (commit 0), tombstoned (commit
    // 1), resurrected at +1000 (commit 2) — LWW through tombstones
    // must survive the pruned read. On this fixture every commit
    // admits the key (ranges overlap); the SKIPPING itself is
    // spec-pinned on a disjoint-range log, where an oracle can't see
    // which directories were read.
    "q197_ops_point_lookup" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q197")
      for (c <- 0L to 2L)
        Changelog.writeCommitStats(s, path, c, "o_orderkey")
      Changelog.pointLookupOps(s, path, Seq("o_orderkey"), 2L,
        "o_orderkey", 20L)
    }),

    // STATS-PRUNED RANGE LOOKUP — the range form of q197: a commit is
    // compacted iff its recorded [min, max] INTERSECTS the probe
    // window, and the window predicate also pushes into the scan so
    // commit skipping and parquet row-group skipping COMPOSE. The
    // window [15, 45] crosses every delete class: live originals,
    // mod-7 updates (+500), a tombstoned-and-gone key (30), and
    // resurrections (+1000: 20, 40).
    "q198_ops_range_lookup" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q198")
      for (c <- 0L to 2L)
        Changelog.writeCommitStats(s, path, c, "o_orderkey")
      Changelog.rangeLookupOps(s, path, Seq("o_orderkey"), 2L,
        "o_orderkey", 15L, 45L)
    }),

    // MERGE INTO the ops log — the lakehouse three-clause merge as ONE
    // commit: source = every 6th key at price +700, delete-when =
    // key ≡ 0 (mod 12). Against the three-commit log's head state:
    // matched ∧ %12=0 → tombstoned; matched otherwise → updated to the
    // source row (all real updates — +700 never collides with the
    // head's +0/+500/+1000 prices); UNMATCHED ∧ %12≠0 → inserted
    // (resurrecting keys commit 1 tombstoned); unmatched ∧ %12=0 →
    // ignored (deleting an absent key is a no-op). The commit is the
    // minimal effective-change set (no-op suppression spec-pinned).
    "q196_ops_merge_into" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q196")
      val src = opsOrders(s, d).filter(col("o_orderkey") % 6 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 700.0)
      Changelog.mergeIntoOps(s, path, Seq("o_orderkey"), src, 3L,
        deleteWhen = Some(col("o_orderkey") % 12 === 0))
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), Long.MaxValue)
    }),

    // MULTI-WRITER OPTIMISTIC COMMITS — the OCC layer on the
    // oracle-backed surface: two INDEPENDENT writers each derive a
    // delta against the SAME read version (the head after the three
    // ops commits) and land through commitWithRetry — ids are
    // auto-assigned (head+1, head+2), the claim arbitrates, and the
    // key-disjoint deltas serialize cleanly in either order (writer A
    // bumps keys ≡ 1 (mod 5) by +9000, writer B keys ≡ 2 (mod 5) by
    // +80000 — both against live head-state rows). The final snapshot
    // must equal the head law with both adjustments applied — proof
    // the conflict detection admitted exactly the serializable pair.
    // The contended legs (same target id, intersecting keys, claim
    // release) are race-specced in TopKChangelogSpec.
    "q205_occ_two_writers" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q205")
      val head = Changelog.snapshotAt(s, path, Seq("o_orderkey"), 2L)
      val k = col("o_orderkey")
      val deltaA = head.filter(k % 5 === 1)
        .withColumn("o_totalprice", col("o_totalprice") + 9000.0)
        .withColumn(Changelog.OpCol, lit("u"))
      val deltaB = head.filter(k % 5 === 2)
        .withColumn("o_totalprice", col("o_totalprice") + 80000.0)
        .withColumn(Changelog.OpCol, lit("u"))
      val idA = Changelog.commitWithRetry(s, path, Seq("o_orderkey"),
        deltaA, readVersion = 2L, writer = "wA")
      val idB = Changelog.commitWithRetry(s, path, Seq("o_orderkey"),
        deltaB, readVersion = 2L, writer = "wB")
      require(idA == 3L && idB == 4L,
        s"retry loop mis-assigned ids: A=$idA B=$idB")
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), Long.MaxValue)
    }),

    // THE OPS LOG AS A STREAMING SINK (DSv2 StreamingWrite) — q184's
    // ingestion re-expressed as an engine surface: the landing stream
    // writes STRAIGHT INTO the changelog with `writeStream.format
    // (LogSink)` — no foreachBatch, no hand-rolled commit calls.
    // Epoch ids land as claimed commit ids (OCC-arbitrated), staged
    // parquet renames give replace-don't-append epoch idempotence,
    // and the served snapshot must equal the batch-committed log —
    // q181's oracle verbatim, reached through a pure writeStream.
    // Restart/shape/foreign-claim legs are spec-pinned (LogSinkSpec).
    "q204_stream_sink_ingest" -> ((s, d) => {
      val landing = stagedOpsLanding(s, d)
      val path = Sinks.tmpPathFor("orders_ops_sink_log", d)
      val ckpt = Sinks.tmpPathFor("orders_ops_sink_ckpt", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(OpsLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumnRenamed("op", Changelog.OpCol)
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), Long.MaxValue)
    }),

    // LOG-TO-LOG INCREMENTAL REPLICATION — the composition the two
    // round-14 streaming halves exist for: `readStream(CdcSource)` off
    // the upstream ops log, a pure projection mapping feed labels to
    // ops verbs (insert/update → upsert of the new values, delete →
    // tombstone), `writeStream(LogSink)` into a DOWNSTREAM ops log.
    // One commit per upstream commit (admission control ↔ epoch ids),
    // each replicated atomically and exactly-once (spool determinism
    // upstream, claim+rename idempotence downstream), O(delta) per
    // commit — never a full-table copy. The replica's snapshot must
    // equal the upstream head state (q181's oracle verbatim); the
    // incremental catch-up and restart legs are spec-pinned
    // (ReplicationSpec).
    "q206_log_replication" -> ((s, d) => {
      val upstream = stagedOpsLog(s, d)
      val replica = Sinks.tmpPathFor("orders_ops_replica", d)
      val ckpt = Sinks.tmpPathFor("orders_ops_replica_ckpt", d)
      Sinks.deleteRecursively(replica)
      Sinks.deleteRecursively(ckpt)
      val feed = s.readStream
        .format(classOf[graft.streaming.CdcSource].getName)
        .option("path", upstream)
        .option("keys", "o_orderkey")
        .option("trackCols", "o_custkey,o_totalprice")
        // replication never reads the old_* side: the declared
        // projection halves the per-window spool width (spec-pinned)
        .option("columns",
          "o_orderkey,new_o_custkey,new_o_totalprice,change_type")
        .load()
      val del = col("change_type") === "delete"
      val q = feed.select(
          col("o_orderkey"),
          when(del, lit(null).cast("bigint"))
            .otherwise(col("new_o_custkey")).as("o_custkey"),
          when(del, lit(null).cast("double"))
            .otherwise(col("new_o_totalprice")).as("o_totalprice"),
          when(del, lit("d")).otherwise(lit("u")).as(Changelog.OpCol))
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", replica)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, replica, Seq("o_orderkey"), Long.MaxValue)
    }),

    // SELECTIVE (TENANT-SLICE) REPLICATION — q206 with the feed's
    // `keyFilter` knob: the replica subscribes to ONE slice of a
    // shared log (keys ≡ 1 mod 3) and the predicate prunes the
    // touched-key set BEFORE the endpoint compactions, so the slice
    // consumer pays O(slice · delta) per window — never the full feed
    // then a filter. Composed with the `columns` projection, the spool
    // carries exactly the slice's rows and exactly the verbs' columns.
    // The replica must equal the upstream head law restricted to the
    // slice; feed-equivalence (filtered feed ≡ full feed filtered) is
    // spec-pinned.
    "q210_selective_replication" -> ((s, d) => {
      val upstream = stagedOpsLog(s, d)
      val replica = Sinks.tmpPathFor("orders_ops_tenant_replica", d)
      val ckpt = Sinks.tmpPathFor("orders_ops_tenant_ckpt", d)
      Sinks.deleteRecursively(replica)
      Sinks.deleteRecursively(ckpt)
      val feed = s.readStream
        .format(classOf[graft.streaming.CdcSource].getName)
        .option("path", upstream)
        .option("keys", "o_orderkey")
        .option("trackCols", "o_custkey,o_totalprice")
        .option("keyFilter", "o_orderkey % 3 = 1")
        .option("columns",
          "o_orderkey,new_o_custkey,new_o_totalprice,change_type")
        .load()
      val del = col("change_type") === "delete"
      val q = feed.select(
          col("o_orderkey"),
          when(del, lit(null).cast("bigint"))
            .otherwise(col("new_o_custkey")).as("o_custkey"),
          when(del, lit(null).cast("double"))
            .otherwise(col("new_o_totalprice")).as("o_totalprice"),
          when(del, lit("d")).otherwise(lit("u")).as(Changelog.OpCol))
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", replica)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, replica, Seq("o_orderkey"), Long.MaxValue)
    }),

    // THE FULLY DECLARATIVE MATERIALIZED VIEW — the SEVENTH IVM path
    // onto the q183 rollup oracle, and the first with NO foreachBatch
    // anywhere: `readStream(CdcSource)` serves the feed, a projection
    // explodes each change into signed contributions (update = retract
    // old + contribute new, so group-MOVING updates are exact — the
    // r13 ADVICE semantics, here by construction), a plain streaming
    // `groupBy().agg()` in UPDATE mode keeps the running totals in
    // query state, and LogSink (SupportsStreamingUpdateAsAppend —
    // the Kafka-sink discipline) lands each batch's changed groups as
    // upserts. The served view is the replica log's LWW snapshot:
    // latest running total per group, groups at zero live rows
    // filtered on read. State is O(groups), each batch O(delta) —
    // the whole pipeline is three declarative operators.
    "q207_stream_materialized_view" -> ((s, d) => {
      val upstream = stagedOpsLog(s, d)
      val viewLog = Sinks.tmpPathFor("orders_ops_mview", d)
      val ckpt = Sinks.tmpPathFor("orders_ops_mview_ckpt", d)
      Sinks.deleteRecursively(viewLog)
      Sinks.deleteRecursively(ckpt)
      val feed = s.readStream
        .format(classOf[graft.streaming.CdcSource].getName)
        .option("path", upstream)
        .option("keys", "o_orderkey")
        .option("trackCols", "o_custkey,o_totalprice")
        .load()
      val contrib = feed.select(explode(array(
          struct(col("old_o_custkey").as("o_custkey"),
            lit(-1L).as("sgn"),
            (-round(col("old_o_totalprice") * 100)).cast("long")
              .as("cents"),
            col("change_type").isin("update", "delete").as("live")),
          struct(col("new_o_custkey").as("o_custkey"),
            lit(1L).as("sgn"),
            round(col("new_o_totalprice") * 100).cast("long").as("cents"),
            col("change_type").isin("update", "insert").as("live"))))
          .as("c"))
        .filter(col("c.live"))
        .select(col("c.o_custkey").as("o_custkey"), col("c.sgn").as("sgn"),
          col("c.cents").as("cents"))
      // state partitions sized to the input, not the core count
      graft.Tuning.withStreamShuffle(s, upstream) {
        val q = contrib.groupBy("o_custkey")
          .agg(sum(col("sgn")).as("n_orders"), sum(col("cents")).as("cents"))
          .withColumn(Changelog.OpCol, lit("u"))
          .writeStream.format(classOf[graft.streaming.LogSink].getName)
          .outputMode("update")
          .option("path", viewLog)
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      Changelog.snapshotAt(s, viewLog, Seq("o_custkey"), Long.MaxValue)
        .filter(col("n_orders") > 0)
        .select(col("o_custkey"), col("n_orders"),
          (col("cents").cast("double") / 100.0).as("sum_price"))
    }),

    // TIMESTAMP COLUMNS THROUGH THE STREAMING TABLE FORMAT — the sink's
    // type surface widened to the events shape: a writeStream carrying
    // a real TimestampType column lands as claimed epoch commits
    // (staged as UTC-micros-annotated INT64 — Spark's own internal
    // representation — so the log reads back as TimestampType exactly),
    // tombstones null the timestamp, the every-10th re-upsert SHIFTS it
    // by +1 hour, and the served snapshot must equal the recompute —
    // timestamp arithmetic crossing the engine boundary bit-exactly.
    // The feed-side spool (epoch-micros round-trip) is spec-pinned in
    // ReplicationSpec.
    "q209_stream_sink_timestamps" -> ((s, d) => {
      val landing = stagedEventsLanding(s, d)
      val path = Sinks.tmpPathFor("events_ops_sink_log", d)
      val ckpt = Sinks.tmpPathFor("events_ops_sink_ckpt", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(EventsLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .withColumnRenamed("op", Changelog.OpCol)
        .writeStream.format(classOf[graft.streaming.LogSink].getName)
        .option("path", path)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("event_id"), Long.MaxValue)
    }),

    // MULTI-PRODUCER STREAMING INGESTION — the OCC layer under the
    // streaming sink: TWO producers run CONCURRENTLY into ONE ops log
    // (`multiWriter=true` — each new epoch claims the next free commit
    // id through the claim arbitration and records its assignment in a
    // per-(query, epoch) map marker; redelivered epochs re-land their
    // recorded id; blind appends never conflict, Delta's rule). Here
    // the landing is split by key parity, so the producers' commits
    // interleave arbitrarily yet compose deterministically — each
    // key's LWW order is its own producer's epoch order. The final
    // snapshot must equal the single-producer law (q204's oracle
    // verbatim); the contended legs (concurrent 3-trial interleave,
    // static-mapping collision, marker sweep) are spec-pinned
    // (LogSinkSpec).
    "q208_multi_producer_ingest" -> ((s, d) => {
      val landing = stagedOpsLanding(s, d)
      val path = Sinks.tmpPathFor("orders_ops_multi_log", d)
      val ckptA = Sinks.tmpPathFor("orders_ops_multi_ckpt_a", d)
      val ckptB = Sinks.tmpPathFor("orders_ops_multi_ckpt_b", d)
      Seq(path, ckptA, ckptB).foreach(Sinks.deleteRecursively)
      def producer(parity: Int, ckpt: String) =
        s.readStream.schema(OpsLandingSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing)
          .filter(col("o_orderkey") % 2 === parity)
          .withColumnRenamed("op", Changelog.OpCol)
          .writeStream.format(classOf[graft.streaming.LogSink].getName)
          .option("path", path)
          .option("multiWriter", "true")
          .option("checkpointLocation", ckpt)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
      val qa = producer(1, ckptA)
      val qb = producer(0, ckptB)
      qa.awaitTermination()
      qb.awaitTermination()
      Changelog.snapshotAt(s, path, Seq("o_orderkey"), Long.MaxValue)
    }),

    // THE CDC FEED AS A STREAMING SOURCE (DSv2 MicroBatchStream) —
    // q186's consumer re-expressed the Delta way: `readStream.format
    // (CdcSource)` serves the full-label feed itself, offsets are
    // commit ids, one commit per micro-batch (admission control), and
    // the consumer's foreachBatch only does its OWN work (derive the
    // signed delta, land it additively) — no hand-rolled feed windows,
    // no ops-log writes. The served rollup must equal the recompute
    // from the final live state — the SIXTH IVM path converging on the
    // q183 oracle. Restart-from-checkpoint and the loud below-horizon
    // window are spec-pinned (CdcSourceSpec).
    "q200_stream_cdc_source" -> ((s, d) => {
      val path = stagedOpsLog(s, d)
      val rollPath = Sinks.tmpPathFor("orders_cdc_src_roll", d)
      val ckpt = Sinks.tmpPathFor("orders_cdc_src_ckpt", d)
      Sinks.deleteRecursively(rollPath)
      Sinks.deleteRecursively(ckpt)
      val feed = s.readStream
        .format(classOf[graft.streaming.CdcSource].getName)
        .option("path", path)
        .option("keys", "o_orderkey")
        .option("trackCols", "o_totalprice,o_custkey")
        .load()
      val q = feed.writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            Changelog.commitIdempotent(
              graft.streaming.StreamIvm.cdcDelta(batch,
                groupCol = "o_custkey", measure = "o_totalprice"),
              rollPath, batchId)
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamIvm.servedCdcRollup(s, rollPath, "o_custkey")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_measure").as("sum_price"))
    }),

    // STATS-PRUNED POINT LOOKUP ON A STRING KEY — q197 generalized:
    // per-commit markers now record min/max/null-count per COLUMN
    // (writeCommitStatsMulti), string order is unsigned UTF-8 bytes
    // on both the driver's skip decision and Spark's scan, and the
    // lookup runs the documents ops log through the same full delete
    // cycle (upsert → tombstone → resurrection at +1000). The
    // skipping itself is spec-pinned on disjoint string ranges.
    "q202_ops_point_lookup_str" -> ((s, d) => {
      val path = docsOpsLog(s, d, "docs_ops_log_q202")
      Changelog.pointLookupOpsString(s, path, Seq("doc_key"), 2L,
        "doc_key", "D00000020")
    }),

    // STATS-PRUNED RANGE LOOKUP ON A STRING KEY — q198's range form
    // for the string-keyed log: the window crosses every delete
    // class (live originals, +500 updates, tombstoned-and-gone keys,
    // +1000 resurrections) and the window predicate pushes into the
    // scan, so commit skipping and parquet row-group skipping still
    // compose on the string column.
    "q203_ops_range_lookup_str" -> ((s, d) => {
      val path = docsOpsLog(s, d, "docs_ops_log_q203")
      Changelog.rangeLookupOpsString(s, path, Seq("doc_key"), 2L,
        "doc_key", "D00000015", "D00000045")
    }),

    // OPTIMIZE AT HEAD WITHOUT LOSING HISTORY — the maintenance verb
    // q191's fused checkpoint is not: after the three ops commits,
    // optimizeOps lands the full live state as ONE new clustered BASE
    // commit (id 3, arithmetic key-range files + commit-stats marker)
    // while commits 0–2 stay readable — no horizon advance, no
    // vacuum. The query returns the snapshots AS OF 1, 2 AND 3
    // side by side (version-tagged): 1 and 2 prove history below the
    // base is untouched, 3 proves the base is a pure rewrite (the
    // head state, value-identical). Head reads prune to the base via
    // its marker, feeds skip it as change-free, and key-range reads
    // prune to exact file counts — all spec-pinned (an oracle cannot
    // see which directories were planned).
    "q199_ops_optimize_head" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q199")
      val dom = opsOrders(s, d)
        .agg(max(col("o_orderkey"))).head().getLong(0) + 1L
      Changelog.optimizeOps(s, path, Seq("o_orderkey"), 3L,
        "o_orderkey", dom, 8)
      Seq(1L, 2L, 3L).map(v =>
        Changelog.snapshotAt(s, path, Seq("o_orderkey"), v)
          .withColumn("asof", lit(v)))
        .reduce(_ unionByName _)
    }),

    // CDC FEED BY TIMESTAMP WINDOW — how a real consumer addresses the
    // feed ("every change between last night's run and tonight's"):
    // both endpoints resolve through the commit clock (latest stamp
    // ≤ t), then the full-label versioned feed runs unchanged. Stamps
    // at 1000/2000/3000; the window (1000, 3000] resolves to
    // (version 0, version 2] — q182's feed and oracle verbatim,
    // reached through clock addressing.
    "q192_cdc_by_timestamp" -> ((s, d) => {
      val path = opsLog(s, d, "orders_ops_log_q192")
      Changelog.stampCommit(path, 0L, 1000L)
      Changelog.stampCommit(path, 1L, 2000L)
      Changelog.stampCommit(path, 2L, 3000L)
      Changelog.changesBetweenTimestamps(s, path, Seq("o_orderkey"),
        1000L, 3000L, trackCols = Seq("o_totalprice"))
    }),

    // STREAMING CDC CONSUMER — the fifth IVM path: q183's signed-delta
    // maintenance driven from the ops log's OWN change feed inside
    // foreachBatch (per-micro-batch (b−1, b] windows over the q184
    // ingestion), never the producer's frames. Each batch lands its
    // upserts+tombstones as ops commit b, derives the full-label feed
    // for exactly that window, and commits the signed delta additively
    // — insert +1/+new, update +new−old, delete −1/−old. The served
    // rollup must equal the recompute from the final live state —
    // q183's oracle verbatim, reached through streaming delivery.
    "q186_stream_cdc_maintenance" -> ((s, d) => {
      val landing = stagedOpsLanding(s, d)
      val opsPath = Sinks.tmpPathFor("orders_ops_cdcm_log", d)
      val rollPath = Sinks.tmpPathFor("orders_ops_cdcm_roll", d)
      val ckpt = Sinks.tmpPathFor("orders_ops_cdcm_ckpt", d)
      Sinks.deleteRecursively(opsPath)
      Sinks.deleteRecursively(rollPath)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(OpsLandingSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           batchId: Long) =>
            graft.streaming.StreamIvm.applyBatchCdc(s,
              batch.withColumnRenamed("op", Changelog.OpCol), batchId,
              opsPath, rollPath, key = "o_orderkey",
              groupCol = "o_custkey", measure = "o_totalprice")
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      graft.streaming.StreamIvm.servedCdcRollup(s, rollPath, "o_custkey")
        .select(col("o_custkey"), col("n_rows").as("n_orders"),
          col("sum_measure").as("sum_price"))
    }),

    // STR — sliding (hopping) windows: each event in 2 overlapping
    // 2-hour windows on a 1-hour slide; update-mode changelog +
    // last-write-wins compaction (the tumblingCounts commit contract).
    "q86_stream_sliding" -> ((s, d) => EventStream.slidingCounts(s, d)),

    // W-extension — trailing 7-day RANGE frame over per-(priority, day)
    // revenue: the frame is a value distance (gap days widen it), not a
    // row count; window input is pre-aggregated to calendar cardinality.
    "q87_rolling_revenue" -> ((s, d) =>
      Rolling.trailingDaily(Tables.orders(s, d), "o_orderpriority",
        "o_orderdate", "o_totalprice", TrailDays)),

    // Reconciliation — full-outer keyed diff of two snapshots; output
    // is proportional to the change, never the table.
    "q88_snapshot_diff" -> ((s, d) =>
      Diff.snapshotDiff(Tables.orders(s, d), mutatedOrders(s, d),
        Seq("o_orderkey"), DiffCompareCols)),

    // Exact per-stratum decile binning (ntile) + per-bin stats. The
    // exact form needs a total sort per stratum — the at-scale path for
    // *cutoffs* is the q65 sketch; this is the exact small-stratum twin.
    "q89_decile_stats" -> ((s, d) => {
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("n_chars"), col("doc_id"))
      Tables.documents(s, d)
        .withColumn("decile", ntile(Deciles).over(w))
        .groupBy(col("lang"), col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_chars")).as("min_chars"),
          max(col("n_chars")).as("max_chars"))
    }),

    // Weighted Bernoulli corpus sample: P(keep) ∝ n_chars, pure
    // integer cross-multiplied decision, no RNG, no division.
    "q90_weighted_sample" -> ((s, d) =>
      Sampling.weightedBernoulli(
        Tables.documents(s, d).select(col("doc_id"), col("lang"),
          col("n_chars")),
        "doc_id", "n_chars", WeightSalt)),

    // First-order transition matrix over per-user event sequences with
    // exact ppm probabilities.
    "q91_transition_matrix" -> ((s, d) =>
      Transitions.transitionMatrix(Tables.events(s, d), "user_id", "ts",
        "event_id", "event_type")),

    // Tokenizer prep: top-V vocabulary by corpus frequency (distributed
    // top-k, never a global sort) + per-document OOV rate.
    "q92_vocab_coverage" -> ((s, d) =>
      Terms.vocabCoverage(Tables.documents(s, d), "doc_id", "text",
        VocabSize)),

    // Tokenizer TRAINING: BPE merge induction — one corpus pass for
    // word frequencies, then vocabulary-bounded per-round pair-count /
    // argmax / merge-application (greedy left-to-right, the BPE
    // contract). The learned merge table is the model artifact.
    "q106_bpe_merges" -> ((s, d) =>
      Bpe.learnMerges(Tables.documents(s, d), "text", BpeRounds)),

    // Tokenizer ENCODING: per-document subword counts under the q106
    // model — the trained-tokenizer answer to "how many tokens is my
    // corpus" (vs q27's regex approximation). The per-word subword
    // table broadcasts back to the token stream (the q92 join shape).
    "q108_bpe_encode" -> ((s, d) =>
      Bpe.encode(Tables.documents(s, d), "doc_id", "text", BpeRounds)),

    // Tokenizer TRAINING, the SECOND public family: unigram-LM
    // (SentencePiece, Kudo 2018) — seed vocabulary from frequent
    // substrings, hard-EM (Viterbi) refits in integer micro-log
    // fixed point, shrink-by-a-quarter pruning per round (characters
    // never prune — coverage), final truncation to the vocab budget.
    // The scored piece table is the model artifact; the oracle
    // unrolls the identical position-bounded DP (the q106/q113
    // materialized-CTE discipline).
    "q263_unigram_lm_train" -> ((s, d) =>
      graft.ext.Unigram.train(Tables.documents(s, d), "text",
        seedMulti = UgSeedMulti, emRounds = UgEmRounds,
        vocabSize = UgVocabSize, maxPieceLen = UgMaxPiece,
        maxWordLen = UgMaxWord)),

    // Unigram ENCODING: per-document subword counts under the q263
    // model — q108's question asked of the second trained tokenizer
    // family (one more vocabulary-bounded Viterbi pass under the
    // final scores; the per-word subword table broadcasts back to
    // the token stream, the q92/q108 join shape).
    "q264_unigram_encode" -> ((s, d) =>
      graft.ext.Unigram.encode(Tables.documents(s, d), "doc_id",
        "text", seedMulti = UgSeedMulti, emRounds = UgEmRounds,
        vocabSize = UgVocabSize, maxPieceLen = UgMaxPiece,
        maxWordLen = UgMaxWord)),

    // A-priori-pruned frequent term pairs with fixed-point PMI: the
    // collocation/association-mining step after the q92 vocabulary.
    "q94_frequent_pairs" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.count() // caller-computed scalar, q61 convention
      Cooccur.frequentPairs(docs, "doc_id", "text",
        (n * PairSupportPct / 100).toInt, n)
    }),

    // Per-node triangle counts of the frequent-pair co-occurrence
    // graph — degree-ordered orientation (Suri–Vassilvitskii), the
    // third graph kernel after CC and PageRank.
    "q95_triangle_count" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.count()
      Graph.triangleCount(
        Cooccur.frequentPairs(docs, "doc_id", "text",
            (n * PairSupportPct / 100).toInt, n)
          .select(col("term_a"), col("term_b")))
    }),

    // Per-dimension z-score standardization of the embedding corpus
    // (exact integer moments, one IEEE divide+sqrt per cell).
    "q96_embed_zscore" -> ((s, d) =>
      VectorStats.standardizePpm(Tables.embeddings(s, d), "vec_id",
        "embedding")),

    // Int8 embedding quantization — the vector corpus' storage layer:
    // per-dimension uniform 256-level codes, min/max broadcast back,
    // the corpus never shuffles; one fixed IEEE double sequence both
    // engines execute identically (see VectorStats.quantizeUniform).
    "q145_embed_quantize" -> ((s, d) =>
      VectorStats.quantizeUniform(Tables.embeddings(s, d), "vec_id",
        "embedding", QuantLevels)),

    // STR — stream-static dimension enrichment: micro-batches
    // broadcast-join a batch-computed cohort dim, then aggregate.
    "q97_stream_enrich" -> ((s, d) => EventStream.enrichedCounts(s, d)),

    // Release gate v2 — this round's operators composed the way a
    // corpus release runs them: vocabulary-coverage gate (drop
    // high-OOV docs) → importance sample ∝ length (weighted
    // Bernoulli, no RNG) → deterministic train/val/test assignment.
    // Complements q51 (dedup → quality → stratified downsample): same
    // pipeline stage, different-generation operator set.
    "q100_release_gate" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val pass = Terms.vocabCoverage(docs, "doc_id", "text", VocabSize)
        .filter(col("oov_ppm") <= ReleaseOovCapPpm)
        .select("doc_id")
      val gated = docs.join(pass, "doc_id")
        .select(col("doc_id"), col("lang"), col("n_chars"))
      val sampled = Sampling.weightedBernoulli(gated, "doc_id", "n_chars",
        ReleaseSampleSalt)
      Sampling.hashSplit(sampled, "doc_id", ReleaseSplitSalt, ReleaseCuts)
        .select(col("doc_id"), col("lang"), col("n_chars"), col("split"))
    }),

    // S-extension — ORC sink round-trip: the second columnar format
    // (predicate-pushdown-capable like parquet; the format a consumer
    // on a Hive-era stack would request). Content must equal the
    // source table after the hop, types included.
    "q99_orc_roundtrip" -> ((s, d) => {
      val path = graft.sources.Sinks.tmpPathFor("sink_orc_orders", d)
      Tables.orders(s, d).write.mode("overwrite").orc(path)
      s.read.orc(path)
    }),

    // Release drift report — the distribution-shift monitor a corpus
    // release gate runs next to q93's integrity audit: per-term
    // frequency in integer ppm for two releases (deterministic hash
    // halves standing in for release N / N+1), full-outer joined so
    // terms that appeared or vanished still report, delta in exact
    // integer ppm. Scale shape: two token scans collapsing to
    // vocabulary-sized aggregates, one metadata-total broadcast each,
    // one vocabulary-sized join — the corpus never shuffles.
    "q144_release_drift" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      def half(rem: Int) = docs.filter(
        pmod(graft.ext.TextHash.hash60(
          concat(lit(DriftSalt), col("doc_id").cast("string"))), lit(2L))
          === rem)
      def ppm(df: org.apache.spark.sql.DataFrame) = {
        val toks = df
          .select(explode(graft.ext.TextHash.tokens(col("text"))).as("term"))
          .filter(length(col("term")) > 0)
        toks.groupBy(col("term")).agg(count(lit(1)).as("n"))
          .crossJoin(broadcast(toks.agg(count(lit(1)).as("_tot"))))
          .select(col("term"), expr("(n * 1000000) div _tot").as("ppm"))
      }
      val a = ppm(half(0)).select(col("term"), col("ppm").as("ppm_a"))
      val b = ppm(half(1)).select(col("term"), col("ppm").as("ppm_b"))
      a.join(b, Seq("term"), "full_outer")
        .select(col("term"),
          coalesce(col("ppm_a"), lit(0L)).as("ppm_a"),
          coalesce(col("ppm_b"), lit(0L)).as("ppm_b"),
          (coalesce(col("ppm_b"), lit(0L)) -
            coalesce(col("ppm_a"), lit(0L))).as("delta_ppm"))
    }),

    // S-extension — JSON-lines round-trip (sources/JsonLines): the
    // interchange format training corpora ship in. Written
    // gzip-compressed (JsonLines' default; this Spark build's JSON
    // writer has no zstd codec), read back with the EXPLICIT schema
    // (inference
    // would be a second full corpus scan at 100 TB — the API refuses
    // it), and compared whole against the source table: the documents
    // text column carries quotes/whitespace/high-codepoint characters,
    // so any escaping or encoding defect in the hop breaks the hash.
    "q136_jsonl_roundtrip" -> ((s, d) => {
      val path = graft.sources.Sinks.tmpPathFor("sink_jsonl_documents", d)
      graft.sources.JsonLines.write(Tables.documents(s, d), path)
      graft.sources.JsonLines.read(s, path, Tables.documentsSchema)
    }),

    // Avro interchange round-trip (sources/AvroInterchange) — the
    // Kafka/schema-registry dump format, written snappy-compressed and
    // read back under the EXPLICIT reader schema; the documents text
    // column's quotes/whitespace/high-codepoint characters make any
    // encoding defect in the Avro string/long codecs break the hash
    // against the parquet source of truth.
    "q157_avro_roundtrip" -> ((s, d) => {
      val path = graft.sources.Sinks.tmpPathFor("sink_avro_documents", d)
      graft.sources.AvroInterchange.write(Tables.documents(s, d), path)
      graft.sources.AvroInterchange.read(s, path, Tables.documentsSchema)
    }),

    // XML interchange round-trip (sources/XmlInterchange) — the
    // regulatory-feed/legacy-bus format via Spark 4's native XML
    // support, written rowTag-nested and read back under the EXPLICIT
    // reader schema with surrounding-whitespace preservation ON
    // (the default trims inside row tags — corpus-corrupting); the
    // documents text column's angle brackets, quotes, and
    // high-codepoint characters make any escaping defect in the XML
    // codec break the hash against the parquet source of truth.
    "q166_xml_roundtrip" -> ((s, d) => {
      val path = graft.sources.Sinks.tmpPathFor("sink_xml_documents", d)
      graft.sources.XmlInterchange.write(Tables.documents(s, d), path,
        rowTag = "doc")
      graft.sources.XmlInterchange.read(s, path, Tables.documentsSchema,
        rowTag = "doc")
    }),

    // SQL-registered engine function through spark.sql: the SAME
    // Column composition as q18, reached via the FunctionRegistry
    // (GraftSqlFunctions.register / spark.sql.extensions) — proves the
    // SQL surface cannot drift from the DataFrame surface.
    "q98_sql_function" -> ((s, _) => {
      graft.plans.GraftSqlFunctions.register(s)
      s.sql("""SELECT market_cap, parse_market_cap(market_cap)
              |  AS market_cap_usd
              |FROM VALUES ('32.42B'),('760.88M'),('297.82K'),
              |  ('3,371.44B'),('1.5T'),(''),('n/a'),('42')
              |  AS t(market_cap)""".stripMargin)
    }),

    // Declarative data-quality audit: N predicate rules in ONE scan per
    // table, duplicate-key surplus, and the orphaned-FK count after the
    // q88 deletion mutation — the promote-gate report.
    "q93_integrity_audit" -> ((s, d) => {
      val li = Tables.lineitem(s, d)
      val o = Tables.orders(s, d)
      Quality.ruleAudit(li, Seq(
          "li_nonpositive_qty" -> (col("l_quantity") <= 0.0),
          "li_discount_range" -> !col("l_discount").between(0.0, 1.0),
          "li_null_orderkey" -> col("l_orderkey").isNull))
        .unionByName(Quality.ruleAudit(o, Seq(
          "o_null_custkey" -> col("o_custkey").isNull,
          "o_bad_status" -> !col("o_orderstatus").isin("O", "F", "P"))))
        .unionByName(Quality.duplicateKeys(Tables.events(s, d),
          Seq("user_id", "ts"), "ev_dup_user_ts"))
        .unionByName(Quality.orphans(li, "l_orderkey",
          mutatedOrders(s, d), "o_orderkey", "li_orphan_after_delete"))
    }),

    // Blocked approximate string self-join (record linkage): distinct
    // part names within Levenshtein distance 3, prefix-2 blocking —
    // one equi-join + banded-DP verify, never a cartesian.
    "q112_fuzzy_join" -> ((s, d) =>
      Fuzzy.selfPairs(Tables.part(s, d), "p_name",
        FuzzyPrefixLen, FuzzyMaxDist)),

    // Synchronous label-propagation communities over the q94/q95
    // frequent-term graph — fixed rounds, mode-label with smallest-
    // label tie-break, integer counts end to end.
    "q113_label_propagation" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val n = docs.count()
      Graph.labelPropagation(
        Cooccur.frequentPairs(docs, "doc_id", "text",
            (n * PairSupportPct / 100).toInt, n)
          .select(col("term_a"), col("term_b")),
        LpaIters)
    }))

  /** q106 twin: the identical BPE loop UNROLLED into per-round CTEs
    * (the q77 PageRank discipline). Per round k: pair counts over the
    * symbol state (p_k), deterministic argmax (b_k: cnt desc, pair
    * asc), hit positions (h_k), greedy non-overlap selection via
    * run-parity — consecutive hit positions can only arise for
    * left==right symbol runs, and greedy takes alternate members
    * (g_k) — then the rebuilt symbol state (s_k). Pure integer counts
    * and binary string order: bit-identical across engines.
    */
  private val bpeCtes = {
    val roundCtes = (1 to BpeRounds).map { k =>
      val prev = s"s${k - 1}"
      s"""p$k AS MATERIALIZED (
         |  SELECT l[i] AS a, l[i + 1] AS b, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM $prev, unnest(range(1, len(l))) AS u(i)
         |  GROUP BY 1, 2),
         |b$k AS MATERIALIZED (SELECT a, b, cnt FROM p$k ORDER BY cnt DESC, a, b LIMIT 1),
         |h$k AS MATERIALIZED (
         |  SELECT t.w, u.i
         |  FROM $prev t, b$k, unnest(range(1, len(t.l))) AS u(i)
         |  WHERE t.l[i] = b$k.a AND t.l[i + 1] = b$k.b),
         |g$k AS MATERIALIZED (
         |  SELECT w, i FROM (
         |    SELECT w, i, row_number() OVER (PARTITION BY w, isl ORDER BY i) AS win
         |    FROM (SELECT w, i,
         |            i - row_number() OVER (PARTITION BY w ORDER BY i) AS isl
         |          FROM h$k) q1) q2
         |  WHERE win % 2 = 1),
         |s$k AS MATERIALIZED (
         |  SELECT w, freq, list(sym ORDER BY j) AS l FROM (
         |    SELECT base.w, base.freq, base.j,
         |      CASE WHEN gs.i IS NOT NULL THEN base.l[base.j] || base.l[base.j + 1]
         |           WHEN gp.i IS NOT NULL THEN NULL
         |           ELSE base.l[base.j] END AS sym
         |    FROM (SELECT t.w, t.freq, t.l, u.j
         |          FROM $prev t, unnest(range(1, len(t.l) + 1)) AS u(j)) base
         |    LEFT JOIN g$k gs ON gs.w = base.w AND gs.i = base.j
         |    LEFT JOIN g$k gp ON gp.w = base.w AND gp.i = base.j - 1) q
         |  WHERE sym IS NOT NULL GROUP BY w, freq)""".stripMargin
    }
    s"""WITH t0 AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents),
       |wf AS (SELECT w, CAST(count(*) AS BIGINT) AS freq FROM t0
       |       WHERE length(w) > 0 GROUP BY w),
       |s0 AS MATERIALIZED (SELECT w, freq,
       |  list_transform(range(1, length(w) + 1),
       |    i -> substr(w, CAST(i AS INT), 1)) AS l
       |  FROM wf),
       |${roundCtes.mkString(",\n")}""".stripMargin
  }

  private val bpeMergesSql = {
    val sel = (1 to BpeRounds).map(k =>
      s"SELECT CAST($k AS INT) AS round, a AS merge_left, b AS merge_right, " +
        s"cnt AS pair_count FROM b$k").mkString("\nUNION ALL\n")
    s"$bpeCtes\n$sel"
  }

  /** q108 twin: the final symbol state s_R gives subwords per WORD;
    * the per-document counts re-join it to the token stream.
    */
  private val bpeEncodeSql =
    s"""$bpeCtes,
       |enc AS (SELECT w, CAST(len(l) AS BIGINT) AS nsw FROM s$BpeRounds),
       |tt AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents)
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
       |  CAST(sum(nsw) AS BIGINT) AS n_subwords,
       |  CAST(sum(nsw) * 1000000 // count(*) AS BIGINT)
       |    AS subwords_per_word_ppm
       |FROM tt JOIN enc USING (w)
       |WHERE length(w) > 0
       |GROUP BY doc_id""".stripMargin

  /** q263 twin: the unigram-LM trainer's hard-EM rounds UNROLLED into
    * materialized CTEs (the q106/q113 discipline). Per EM round r:
    * edge scores (e_r = candidate substrings ∩ current vocab), the
    * position-bounded Viterbi forward pass (b_r_j for j = 1..L, each
    * joining the up-to-4 prior positions a ≤maxPieceLen piece can
    * reach from), the backtrack argmax steps (s_r_t, tie-break path
    * score desc then smaller start — the longest-final-piece rule),
    * path counts, the shrink-by-a-quarter prune (characters exempt),
    * and the Laplace micro-log rescore. All integer fixed point; the
    * one float is the single `ln` per piece, rounded to micro-units
    * (the q252 discipline).
    */
  private val unigramCtes: String = {
    val L = UgMaxWord
    def fwd(r: String): String = (1 to L).map { j =>
      val priors = (math.max(0, j - UgMaxPiece) until j)
        .map(i => s"SELECT * FROM b${r}_$i").mkString(" UNION ALL ")
      s"""b${r}_$j AS MATERIALIZED (
         |  SELECT e.w AS w, $j AS pos, max(p.best + e.sc) AS best
         |  FROM e$r e JOIN ($priors) p
         |    ON p.w = e.w AND p.pos = e.i
         |  WHERE e.j = $j
         |  GROUP BY e.w)""".stripMargin
    }.mkString(",\n")
    def bwd(r: String): String = (1 to L).map { t =>
      s"""s${r}_$t AS MATERIALIZED (
         |  SELECT w, piece, i AS pos FROM (
         |    SELECT c.w AS w, e.piece AS piece, e.i AS i,
         |      row_number() OVER (PARTITION BY c.w
         |        ORDER BY (p.best + e.sc) DESC, e.i) AS rn
         |    FROM cur${r}_${t - 1} c
         |    JOIN e$r e ON e.w = c.w AND e.j = c.pos
         |    JOIN bb$r p ON p.w = c.w AND p.pos = e.i
         |    WHERE c.pos > 0) q
         |  WHERE rn = 1),
         |cur${r}_$t AS (SELECT w, pos FROM s${r}_$t)""".stripMargin
    }.mkString(",\n")
    def emRound(r: Int): String = {
      val prev = s"v${r - 1}"
      val bbAll = (0 to L).map(i => s"SELECT * FROM b${r}_$i")
        .mkString(" UNION ALL ")
      val pkAll = (1 to L).map(t => s"SELECT w, piece FROM s${r}_$t")
        .mkString(" UNION ALL ")
      s"""e$r AS MATERIALIZED (
         |  SELECT c.w, c.i, c.j, c.piece, v.sc
         |  FROM cand c JOIN $prev v USING (piece)),
         |b${r}_0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best
         |            FROM wf),
         |${fwd(r.toString)},
         |bb$r AS MATERIALIZED ($bbAll),
         |cur${r}_0 AS (SELECT w, length(w) AS pos FROM wf),
         |${bwd(r.toString)},
         |pk$r AS ($pkAll),
         |cnt$r AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
         |          FROM pk$r JOIN wf USING (w) GROUP BY piece),
         |rc$r AS (SELECT v.piece AS piece, COALESCE(c.cnt, 0) AS cnt
         |         FROM $prev v LEFT JOIN cnt$r c USING (piece)),
         |keep$r AS MATERIALIZED (
         |  SELECT piece, cnt FROM rc$r WHERE length(piece) = 1
         |  UNION ALL
         |  SELECT piece, cnt FROM (
         |    SELECT piece, cnt,
         |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn,
         |      (SELECT count(*) FROM $prev WHERE length(piece) > 1)
         |        AS nm
         |    FROM rc$r WHERE length(piece) > 1 AND cnt > 0) q
         |  WHERE rn <= (nm * 3 + 3) // 4),
         |v$r AS MATERIALIZED (
         |  SELECT piece, cnt,
         |    CAST(round(ln((cnt + 1.0) / (t + nv)) * 1e6) AS BIGINT)
         |      AS sc
         |  FROM keep$r,
         |    (SELECT CAST(sum(cnt) AS BIGINT) AS t, count(*) AS nv
         |     FROM keep$r))""".stripMargin
    }
    s"""WITH t0 AS (
       |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
       |  FROM documents),
       |wf AS MATERIALIZED (
       |  SELECT w, CAST(count(*) AS BIGINT) AS freq
       |  FROM t0 WHERE length(w) > 0 GROUP BY w),
       |cand AS MATERIALIZED (
       |  SELECT w, freq, i, j, substr(w, i + 1, j - i) AS piece
       |  FROM wf,
       |    (SELECT unnest(range(0, $L)) AS i) ri,
       |    (SELECT unnest(range(1, ${L + 1})) AS j) rj
       |  WHERE i < length(w) AND j > i AND j <= length(w)
       |    AND j - i <= $UgMaxPiece),
       |occ AS (SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
       |        FROM cand GROUP BY piece),
       |seed0 AS MATERIALIZED (
       |  SELECT piece, cnt FROM occ WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt FROM (
       |    SELECT piece, cnt,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn
       |    FROM occ WHERE length(piece) > 1) q
       |  WHERE rn <= $UgSeedMulti),
       |v0 AS MATERIALIZED (
       |  SELECT piece, cnt,
       |    CAST(round(ln((cnt + 1.0) / (t + nv)) * 1e6) AS BIGINT)
       |      AS sc
       |  FROM seed0,
       |    (SELECT CAST(sum(cnt) AS BIGINT) AS t, count(*) AS nv
       |     FROM seed0)),
       |${(1 to UgEmRounds).map(emRound).mkString(",\n")},
       |vF AS MATERIALIZED (
       |  SELECT piece, cnt, sc
       |  FROM v$UgEmRounds WHERE length(piece) = 1
       |  UNION ALL
       |  SELECT piece, cnt, sc FROM (
       |    SELECT piece, cnt, sc,
       |      row_number() OVER (ORDER BY cnt DESC, piece) AS rn,
       |      (SELECT count(*) FROM v$UgEmRounds
       |       WHERE length(piece) = 1) AS nc
       |    FROM v$UgEmRounds WHERE length(piece) > 1) q
       |  WHERE rn <= $UgVocabSize - nc),
       |eF AS MATERIALIZED (
       |  SELECT c.w, c.i, c.j, c.piece, v.sc
       |  FROM cand c JOIN vF v USING (piece)),
       |bF_0 AS (SELECT w, 0 AS pos, CAST(0 AS BIGINT) AS best
       |         FROM wf),
       |${fwd("F")},
       |bbF AS MATERIALIZED (${(0 to L).map(i => s"SELECT * FROM bF_$i")
           .mkString(" UNION ALL ")}),
       |curF_0 AS (SELECT w, length(w) AS pos FROM wf),
       |${bwd("F")}""".stripMargin
  }

  /** q263's final select over the shared CTE chain: the trained
    * vocabulary (the model artifact).
    */
  private val unigramSql: String =
    unigramCtes + "\n" +
      """SELECT piece, cnt AS "count", sc AS score_ulog FROM vF"""

  /** q264 twin of q108 for the SECOND tokenizer family: per-word
    * subword counts from the final-vocabulary Viterbi pass (the
    * sF_t path pieces the shared chain already derives), joined back
    * to the document token stream.
    */
  private val unigramEncodeSql: String =
    unigramCtes + ",\n" +
      s"""nswF AS MATERIALIZED (
         |  SELECT w, CAST(count(*) AS BIGINT) AS nsw
         |  FROM (${(1 to UgMaxWord).map(t => s"SELECT w, piece FROM sF_$t")
             .mkString(" UNION ALL ")}) p
         |  GROUP BY w),
         |tt AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
         |  FROM documents)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
         |  CAST(sum(nsw) AS BIGINT) AS n_subwords,
         |  CAST(sum(nsw) * 1000000 // count(*) AS BIGINT)
         |    AS subwords_per_word_ppm
         |FROM tt JOIN nswF USING (w)
         |WHERE length(w) > 0
         |GROUP BY doc_id""".stripMargin

  /** q113 twin: the synchronous LPA rounds UNROLLED into MATERIALIZED
    * per-round CTEs (plain CTEs re-expand multiplicatively per round —
    * the q106 lesson). Round k: neighbor votes + self-vote (v_k),
    * integer vote counts (c_k), mode label with smallest-label
    * tie-break via row_number (lab_k). Edge set = the q94/q95
    * frequent-pair graph, symmetrized.
    */
  private val lpaSql = {
    val rounds = (1 to LpaIters).map { k =>
      val prev = s"lab${k - 1}"
      s"""v$k AS (
         |  SELECT s.u AS id, l.community FROM sym s
         |  JOIN $prev l ON s.v = l.id
         |  UNION ALL SELECT id, community FROM $prev),
         |c$k AS (SELECT id, community, count(*) AS n FROM v$k GROUP BY 1, 2),
         |lab$k AS MATERIALIZED (
         |  SELECT id, community FROM (
         |    SELECT id, community,
         |      row_number() OVER (PARTITION BY id
         |        ORDER BY n DESC, community) AS rn
         |    FROM c$k) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""WITH t AS (
       |  SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
       |  FROM documents),
       |tt AS (SELECT DISTINCT doc_id, term FROM t WHERE length(term) > 0),
       |nn AS (SELECT count(*) AS n FROM documents),
       |ms AS (SELECT n * $PairSupportPct // 100 AS m FROM nn),
       |dfq AS (SELECT term, count(*) AS df FROM tt GROUP BY term),
       |f AS (SELECT term FROM dfq WHERE df >= (SELECT m FROM ms)),
       |ft AS (SELECT tt.doc_id, tt.term FROM tt
       |       JOIN f ON tt.term = f.term),
       |e AS MATERIALIZED (
       |  SELECT a.term AS u, b.term AS v
       |  FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.term < b.term
       |  GROUP BY 1, 2 HAVING count(*) >= (SELECT m FROM ms)),
       |sym AS MATERIALIZED (
       |  SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
       |lab0 AS MATERIALIZED (
       |  SELECT DISTINCT u AS id, u AS community FROM sym),
       |$rounds
       |SELECT id, community FROM lab$LpaIters""".stripMargin
  }

  val oracles: Map[String, String] = Map(

    // the ops log's final live state, derived from the planted law:
    // live = (base ∖ tombstoned) ∪ resurrected ∪ inserted tail;
    // price = +1000 on resurrected, +500 on the mod-7 update branch,
    // base elsewhere (incl. the no-op rewrite branch)
    "q181_ops_snapshot" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the full-label feed from the same law: deletes carry olds and a
    // NULL new side; the delete+re-insert collapses to one update;
    // the identical rewrite (mod-7 = 2 branch) must NOT appear
    "q182_ops_cdf" ->
      """SELECT o_orderkey, 'delete' AS change_type,
        |  o_totalprice AS old_o_totalprice,
        |  CAST(NULL AS DOUBLE) AS new_o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
        |  AND o_orderkey % 20 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 1000.0
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 500.0
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1
        |UNION ALL
        |SELECT o_orderkey, 'insert', CAST(NULL AS DOUBLE),
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 3""".stripMargin,

    // rollup(AS OF 0) + signed full-label deltas ≡ rollup of the
    // final live state (the q169 contract with DELETE retraction);
    // integer-cents partials, HUGEINT→BIGINT cast (the sum trap)
    "q183_ops_cdf_maintenance" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // q181's live state + the evolution law: exactly the rows whose
    // latest version is the evolved commit-2 delivery carry src='v2'
    // (resurrections, the insert tail, the update and no-op-rewrite
    // branches); everything else null-fills
    "q185_ops_evolved_snapshot" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CASE WHEN o_orderkey % 20 = 0 OR o_orderkey % 4 = 3
        |         OR (o_orderkey % 10 <> 0
        |             AND o_orderkey % 7 IN (1, 2)) THEN 'v2'
        |  END AS src
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // checkpoint at 1 then AS OF 2 = the full live state (q181's
    // oracle verbatim — the fold lost nothing, the vacuum dropped
    // only superseded state)
    "q189_ops_checkpoint" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // as of instant 2500 = the state after the commit stamped 2000:
    // base subset with the mod-7 update applied; commit 2 (stamped
    // 3000, already in the log) must not leak
    "q190_time_travel_ts" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3""".stripMargin,

    // the live slice of [15, 45] under the head-state law
    "q198_ops_range_lookup" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey BETWEEN 15 AND 45
        |  AND (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |       OR o_orderkey % 20 = 0)""".stripMargin,

    // the resurrected key's final state through the stats-pruned path
    "q197_ops_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_totalprice + 1000.0 AS o_totalprice
        |FROM orders WHERE o_orderkey = 20""".stripMargin,

    // post-merge state: every 6th-but-not-12th key at orders price
    // +700 (updates AND resurrections), every live 12th key gone, all
    // other keys exactly the head state (q181's law)
    "q196_ops_merge_into" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 6 = 0 THEN o_totalprice + 700.0
        |       WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE (o_orderkey % 6 = 0 AND o_orderkey % 12 <> 0)
        |   OR (o_orderkey % 6 <> 0 AND
        |       (o_orderkey % 4 = 3 OR o_orderkey % 10 <> 0
        |        OR o_orderkey % 20 = 0))""".stripMargin,

    // the head law with both writers' disjoint adjustments applied —
    // +9000 on live keys ≡ 1 (mod 5), +80000 on live keys ≡ 2 (mod 5)
    "q205_occ_two_writers" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END
        |  + CASE WHEN o_orderkey % 5 = 1 THEN 9000.0
        |         WHEN o_orderkey % 5 = 2 THEN 80000.0
        |         ELSE 0.0 END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the writeStream-ingested log must serve the SAME live state as
    // the batch ops log (q181's oracle verbatim)
    "q204_stream_sink_ingest" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the timestamp-carrying snapshot must equal the recompute: every
    // 7th event gone unless resurrected as an every-10th re-upsert,
    // whose ts shifted +1 hour and value +5
    "q209_stream_sink_timestamps" ->
      """SELECT event_id, user_id,
        |  CASE WHEN event_id % 10 = 0
        |       THEN CAST(ts AS TIMESTAMP) + INTERVAL 1 HOUR
        |       ELSE CAST(ts AS TIMESTAMP) END AS ts,
        |  event_type,
        |  CASE WHEN event_id % 10 = 0 THEN value + 5.0
        |       ELSE value END AS value
        |FROM events
        |WHERE event_id % 7 <> 0 OR event_id % 10 = 0""".stripMargin,

    // two concurrent parity-split producers must compose to the
    // single-producer law (q204's oracle verbatim)
    "q208_multi_producer_ingest" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the replica served through readStream(CDC) → writeStream(log)
    // must equal the upstream head state (q181's oracle verbatim)
    "q206_log_replication" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the tenant replica must equal the upstream head law RESTRICTED
    // to the subscribed slice (keys ≡ 1 mod 3)
    "q210_selective_replication" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 3 = 1
        |  AND (o_orderkey % 4 = 3
        |       OR o_orderkey % 10 <> 0
        |       OR o_orderkey % 20 = 0)""".stripMargin,

    // the declarative streaming materialized view must converge to the
    // recompute from the final live state (q183's oracle verbatim —
    // the seventh path onto it)
    "q207_stream_materialized_view" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // the streamed feed-consumer must converge to the same rollup as
    // the recompute from the final live state (q183's oracle verbatim
    // — the sixth path onto it)
    "q200_stream_cdc_source" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // the resurrected doc's final state through the string-pruned path
    "q202_ops_point_lookup_str" ->
      """SELECT 'D' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_key,
        |  lang, n_chars + 1000 AS n_chars
        |FROM documents WHERE doc_id = 20""".stripMargin,

    // the live slice of the string window under the head-state law
    "q203_ops_range_lookup_str" ->
      """SELECT 'D' || lpad(CAST(doc_id AS VARCHAR), 8, '0') AS doc_key,
        |  lang,
        |  CASE WHEN doc_id % 20 = 0 THEN n_chars + 1000
        |       WHEN doc_id % 10 <> 0 AND doc_id % 7 = 1
        |         THEN n_chars + 500
        |       ELSE n_chars END AS n_chars
        |FROM documents
        |WHERE doc_id BETWEEN 15 AND 45
        |  AND (doc_id % 10 <> 0 OR doc_id % 20 = 0)""".stripMargin,

    // snapshots at 1 (base minus tombstones, original prices), 2 and
    // 3 (the live head law — the base at 3 is a pure rewrite) must
    // all read exactly as before the OPTIMIZE
    "q199_ops_optimize_head" ->
      """SELECT o_orderkey, o_custkey, o_totalprice,
        |  CAST(1 AS BIGINT) AS asof
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |UNION ALL
        |SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice,
        |  CAST(v.asof AS BIGINT) AS asof
        |FROM orders CROSS JOIN (SELECT unnest([2, 3]) AS asof) v
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // clone at v=1 (live = base minus tombstones) + the divergent
    // branch commit (every 20th key resurrected at +2000)
    "q193_ops_clone" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 2000.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE (o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0)
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the restored head serves exactly the v=1 state: the base subset
    // minus the tombstoned keys, original prices (commit 2's updates,
    // inserts, and resurrections all rolled back)
    "q194_ops_restore" ->
      """SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0""".stripMargin,

    // the clock window (1000, 3000] resolves to (v0, v2] — q182's
    // feed verbatim, addressed by timestamp
    "q192_cdc_by_timestamp" ->
      """SELECT o_orderkey, 'delete' AS change_type,
        |  o_totalprice AS old_o_totalprice,
        |  CAST(NULL AS DOUBLE) AS new_o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 = 0
        |  AND o_orderkey % 20 <> 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 1000.0
        |FROM orders WHERE o_orderkey % 20 = 0
        |UNION ALL
        |SELECT o_orderkey, 'update', o_totalprice,
        |  o_totalprice + 500.0
        |FROM orders
        |WHERE o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |  AND o_orderkey % 7 = 1
        |UNION ALL
        |SELECT o_orderkey, 'insert', CAST(NULL AS DOUBLE),
        |  o_totalprice
        |FROM orders WHERE o_orderkey % 4 = 3""".stripMargin,

    // clustering moves rows between files, never changes them — the
    // optimize-fused checkpoint serves exactly q189's state
    "q191_ops_optimize" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    // the CDC-consumer stream must converge to the same rollup as the
    // recompute from the final live state (q183's oracle verbatim)
    "q186_stream_cdc_maintenance" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_custkey,
        |    CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |         WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |              AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |         ELSE o_totalprice END AS o_totalprice
        |  FROM orders
        |  WHERE o_orderkey % 4 = 3
        |     OR o_orderkey % 10 <> 0
        |     OR o_orderkey % 20 = 0)
        |SELECT o_custkey, count(*) AS n_orders,
        |  CAST(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT))
        |       AS BIGINT) AS DOUBLE) / 100.0 AS sum_price
        |FROM live GROUP BY o_custkey""".stripMargin,

    // the streaming delivery must converge to the SAME live state as
    // the batch ops log (q181's oracle verbatim)
    "q184_stream_ops_ingest" ->
      """SELECT o_orderkey, o_custkey,
        |  CASE WHEN o_orderkey % 20 = 0 THEN o_totalprice + 1000.0
        |       WHEN o_orderkey % 4 <> 3 AND o_orderkey % 10 <> 0
        |            AND o_orderkey % 7 = 1 THEN o_totalprice + 500.0
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders
        |WHERE o_orderkey % 4 = 3
        |   OR o_orderkey % 10 <> 0
        |   OR o_orderkey % 20 = 0""".stripMargin,

    "q106_bpe_merges" -> bpeMergesSql,
    "q263_unigram_lm_train" -> unigramSql,
    "q264_unigram_encode" -> unigramEncodeSql,
    "q108_bpe_encode" -> bpeEncodeSql,

    // Every event lands in exactly the two 2-hour windows starting at
    // trunc_hour(ts)−1h and trunc_hour(ts) (Spark's epoch-aligned
    // window law for duration 2h, slide 1h).
    "q86_stream_sliding" ->
      """WITH w AS (
        |  SELECT event_type,
        |    unnest([date_trunc('hour', ts) - INTERVAL 1 HOUR,
        |            date_trunc('hour', ts)]) AS win_start
        |  FROM events)
        |SELECT win_start, win_start + INTERVAL 2 HOUR AS win_end,
        |  event_type, count(*) AS n
        |FROM w GROUP BY 1, 2, 3""".stripMargin,

    "q87_rolling_revenue" ->
      s"""WITH daily AS (
         |  SELECT o_orderpriority, CAST(o_orderdate AS DATE) AS day,
         |    sum(CAST(o_totalprice AS DECIMAL(28,6))) AS day_total_dec
         |  FROM orders GROUP BY 1, 2),
         |d2 AS (
         |  SELECT *, date_diff('day', DATE '1970-01-01', day) AS day_id
         |  FROM daily)
         |SELECT o_orderpriority, day,
         |  CAST(day_total_dec AS DOUBLE) AS day_total,
         |  CAST(sum(day_total_dec) OVER w AS DOUBLE) AS trail_total,
         |  CAST(count(*) OVER w AS INT) AS trail_days,
         |  CAST(sum(day_total_dec) OVER w AS DOUBLE)
         |    / CAST(count(*) OVER w AS DOUBLE) AS trail_avg
         |FROM d2
         |WINDOW w AS (PARTITION BY o_orderpriority ORDER BY day_id
         |  RANGE BETWEEN ${TrailDays - 1} PRECEDING AND CURRENT ROW)""".stripMargin,

    "q88_snapshot_diff" ->
      s"""WITH oldt AS (
         |  SELECT o_orderkey, o_orderstatus, o_totalprice, o_custkey
         |  FROM orders),
         |newt AS (
         |  SELECT o_orderkey, o_orderstatus,
         |    CASE WHEN o_orderkey % $DiffMod = 1 THEN o_totalprice + 1.0
         |         ELSE o_totalprice END AS o_totalprice,
         |    o_custkey
         |  FROM orders WHERE o_orderkey % $DiffMod <> 0
         |  UNION ALL
         |  SELECT o_orderkey + $AddedKeyShift, o_orderstatus, o_totalprice,
         |    o_custkey
         |  FROM orders WHERE o_orderkey % $DiffMod = 2),
         |j AS (
         |  SELECT coalesce(o.o_orderkey, n.o_orderkey) AS o_orderkey,
         |    o.o_orderkey IS NOT NULL AS in_old,
         |    n.o_orderkey IS NOT NULL AS in_new,
         |    o.o_orderstatus AS old_o_orderstatus,
         |    n.o_orderstatus AS new_o_orderstatus,
         |    o.o_totalprice AS old_o_totalprice,
         |    n.o_totalprice AS new_o_totalprice,
         |    o.o_custkey AS old_o_custkey, n.o_custkey AS new_o_custkey
         |  FROM oldt o FULL OUTER JOIN newt n ON o.o_orderkey = n.o_orderkey)
         |SELECT * FROM (
         |  SELECT o_orderkey,
         |    CASE WHEN NOT in_old THEN 'added'
         |         WHEN NOT in_new THEN 'removed'
         |         WHEN old_o_orderstatus IS DISTINCT FROM new_o_orderstatus
         |           OR old_o_totalprice IS DISTINCT FROM new_o_totalprice
         |           OR old_o_custkey IS DISTINCT FROM new_o_custkey
         |           THEN 'changed' END AS change,
         |    old_o_orderstatus, new_o_orderstatus, old_o_totalprice,
         |    new_o_totalprice, old_o_custkey, new_o_custkey
         |  FROM j)
         |WHERE change IS NOT NULL""".stripMargin,

    "q89_decile_stats" ->
      s"""WITH r AS (
         |  SELECT lang, doc_id, n_chars,
         |    ntile($Deciles) OVER (PARTITION BY lang
         |      ORDER BY n_chars, doc_id) AS decile
         |  FROM documents)
         |SELECT lang, CAST(decile AS INT) AS decile,
         |  count(*) AS n_docs, min(n_chars) AS min_chars,
         |  max(n_chars) AS max_chars
         |FROM r GROUP BY lang, decile""".stripMargin,

    "q90_weighted_sample" ->
      s"""SELECT doc_id, lang, n_chars FROM documents
         |WHERE (CAST('0x' || substr(md5('$WeightSalt' || CAST(doc_id AS VARCHAR)), 1, 15)
         |         AS BIGINT) % ${Sampling.Denom})
         |      * (SELECT max(n_chars) FROM documents)
         |  < n_chars * ${Sampling.Denom}""".stripMargin,

    "q92_vocab_coverage" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tt AS (SELECT doc_id, term FROM t WHERE length(term) > 0),
         |c AS (SELECT term, count(*) AS cnt FROM tt GROUP BY term),
         |v AS (SELECT term FROM c ORDER BY cnt DESC, term LIMIT $VocabSize)
         |SELECT doc_id, count(*) AS n_tokens,
         |  CAST(count(*) FILTER (WHERE v.term IS NOT NULL) AS BIGINT)
         |    AS in_vocab,
         |  CAST((count(*) - count(*) FILTER (WHERE v.term IS NOT NULL))
         |    * 1000000 // count(*) AS BIGINT) AS oov_ppm
         |FROM tt LEFT JOIN v ON tt.term = v.term
         |GROUP BY doc_id""".stripMargin,

    // layout-only hop: content must equal the plain table (q84 law)
    "q99_orc_roundtrip" -> "SELECT * FROM orders",

    "q136_jsonl_roundtrip" -> "SELECT * FROM documents",

    // lossless interchange hop: Avro container files must carry the
    // exact table (q136's law, row-oriented codec path)
    "q157_avro_roundtrip" -> "SELECT * FROM documents",
    "q166_xml_roundtrip" -> "SELECT * FROM documents",

    // identical integer-ppm law per hash half; FULL OUTER keeps
    // appeared/vanished terms, absent side reports 0
    "q144_release_drift" ->
      s"""WITH h AS (
         |  SELECT text,
         |    CAST('0x' || substr(md5('$DriftSalt' || CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS r
         |  FROM documents),
         |ta AS (
         |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM h WHERE r = 0),
         |tb AS (
         |  SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM h WHERE r = 1),
         |pa AS (
         |  SELECT term, (count(*) * 1000000)
         |      // (SELECT count(*) FROM ta WHERE length(term) > 0) AS ppm
         |  FROM ta WHERE length(term) > 0 GROUP BY term),
         |pb AS (
         |  SELECT term, (count(*) * 1000000)
         |      // (SELECT count(*) FROM tb WHERE length(term) > 0) AS ppm
         |  FROM tb WHERE length(term) > 0 GROUP BY term)
         |SELECT COALESCE(pa.term, pb.term) AS term,
         |  CAST(COALESCE(pa.ppm, 0) AS BIGINT) AS ppm_a,
         |  CAST(COALESCE(pb.ppm, 0) AS BIGINT) AS ppm_b,
         |  CAST(COALESCE(pb.ppm, 0) - COALESCE(pa.ppm, 0) AS BIGINT)
         |    AS delta_ppm
         |FROM pa FULL OUTER JOIN pb ON pa.term = pb.term""".stripMargin,

    // q92's coverage law → gate → q90's cross-multiplied integer
    // sample (max over the GATED set — the operator computes its max
    // over its own input) → q62's cumulative-threshold split law
    "q100_release_gate" -> {
      val thresholds = ReleaseCuts.init.scanLeft(0L) {
        case (acc, (_, w)) => acc + math.round(w * Sampling.Denom)
      }.tail
      val cases = ReleaseCuts.init.zip(thresholds)
        .map { case ((label, _), hi) => s"WHEN b < $hi THEN '$label'" }
        .mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tt AS (SELECT doc_id, term FROM t WHERE length(term) > 0),
         |c AS (SELECT term, count(*) AS cnt FROM tt GROUP BY term),
         |v AS (SELECT term FROM c ORDER BY cnt DESC, term LIMIT $VocabSize),
         |cov AS (
         |  SELECT doc_id,
         |    (count(*) - count(*) FILTER (WHERE v.term IS NOT NULL))
         |      * 1000000 // count(*) AS oov_ppm
         |  FROM tt LEFT JOIN v ON tt.term = v.term GROUP BY doc_id),
         |gated AS (
         |  SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |  JOIN cov ON d.doc_id = cov.doc_id
         |  WHERE cov.oov_ppm <= $ReleaseOovCapPpm),
         |samp AS (
         |  SELECT * FROM gated
         |  WHERE (CAST('0x' || substr(md5('$ReleaseSampleSalt' || CAST(doc_id AS VARCHAR)), 1, 15)
         |           AS BIGINT) % ${Sampling.Denom})
         |        * (SELECT max(n_chars) FROM gated)
         |    < n_chars * ${Sampling.Denom})
         |SELECT doc_id, lang, n_chars,
         |  CASE $cases ELSE '${ReleaseCuts.last._1}' END AS split
         |FROM (
         |  SELECT *, CAST('0x' || substr(md5('$ReleaseSplitSalt' || CAST(doc_id AS VARCHAR)), 1, 15)
         |    AS BIGINT) % ${Sampling.Denom} AS b
         |  FROM samp) s""".stripMargin
    },

    // same oracle law as q18 — the point of q98 is that the SQL-
    // registered function reaches the identical Column composition
    "q98_sql_function" ->
      """WITH src(market_cap) AS (VALUES
        |  ('32.42B'),('760.88M'),('297.82K'),('3,371.44B'),('1.5T'),(''),('n/a'),('42')),
        |parsed AS (
        |  SELECT market_cap,
        |    regexp_extract(upper(trim(replace(market_cap, ',', ''))),
        |      '^([0-9]*\.?[0-9]+)([KMBT]?)$', 1) AS num,
        |    regexp_extract(upper(trim(replace(market_cap, ',', ''))),
        |      '^([0-9]*\.?[0-9]+)([KMBT]?)$', 2) AS sfx
        |  FROM src)
        |SELECT market_cap,
        |  CASE WHEN num = '' THEN NULL
        |       ELSE CAST(num AS DOUBLE) *
        |         CASE sfx WHEN 'K' THEN 1e3 WHEN 'M' THEN 1e6
        |                  WHEN 'B' THEN 1e9 WHEN 'T' THEN 1e12 ELSE 1.0 END
        |  END AS market_cap_usd
        |FROM parsed""".stripMargin,

    "q97_stream_enrich" ->
      """WITH f AS (
        |  SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
        |  FROM events GROUP BY user_id)
        |SELECT f.cohort_week, e.event_type, count(*) AS n
        |FROM events e JOIN f ON e.user_id = f.user_id
        |GROUP BY 1, 2""".stripMargin,

    "q94_frequent_pairs" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tt AS (SELECT DISTINCT doc_id, term FROM t WHERE length(term) > 0),
         |nn AS (SELECT count(*) AS n FROM documents),
         |ms AS (SELECT n * $PairSupportPct // 100 AS m FROM nn),
         |dfq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
         |        FROM tt GROUP BY term),
         |f AS (SELECT * FROM dfq WHERE df >= (SELECT m FROM ms)),
         |ft AS (SELECT tt.doc_id, tt.term, f.df
         |       FROM tt JOIN f ON tt.term = f.term)
         |SELECT a.term AS term_a, b.term AS term_b,
         |  a.df AS n_a, b.df AS n_b, CAST(count(*) AS BIGINT) AS n_ab,
         |  CAST(round(ln(CAST(count(*) * (SELECT n FROM nn) AS DOUBLE)
         |      / CAST(a.df * b.df AS DOUBLE)) * 1000000) AS BIGINT)
         |    AS pmi_ppm
         |FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.term < b.term
         |GROUP BY 1, 2, 3, 4
         |HAVING count(*) >= (SELECT m FROM ms)""".stripMargin,

    "q95_triangle_count" ->
      s"""WITH t AS (
         |  SELECT doc_id,
         |    unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tt AS (SELECT DISTINCT doc_id, term FROM t WHERE length(term) > 0),
         |nn AS (SELECT count(*) AS n FROM documents),
         |ms AS (SELECT n * $PairSupportPct // 100 AS m FROM nn),
         |dfq AS (SELECT term, count(*) AS df FROM tt GROUP BY term),
         |f AS (SELECT term FROM dfq WHERE df >= (SELECT m FROM ms)),
         |ft AS (SELECT tt.doc_id, tt.term FROM tt
         |       JOIN f ON tt.term = f.term),
         |e AS (SELECT a.term AS u, b.term AS v
         |      FROM ft a JOIN ft b ON a.doc_id = b.doc_id AND a.term < b.term
         |      GROUP BY 1, 2 HAVING count(*) >= (SELECT m FROM ms)),
         |tri AS (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1
         |  JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v)
         |SELECT id, CAST(count(*) AS BIGINT) AS triangles
         |FROM (SELECT unnest([a, b, c]) AS id FROM tri)
         |GROUP BY id""".stripMargin,

    "q96_embed_zscore" ->
      """WITH q AS (
        |  SELECT vec_id, CAST(u.i AS INT) AS dim,
        |    CAST(round(CAST(embedding[CAST(u.i AS INT) + 1] AS DOUBLE)
        |      * 1000000) AS BIGINT) AS q
        |  FROM embeddings, unnest(range(len(embedding))) AS u(i)),
        |s AS (
        |  SELECT dim, CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(q) AS HUGEINT) AS s1,
        |    sum(CAST(q AS HUGEINT) * q) AS s2
        |  FROM q GROUP BY dim)
        |SELECT q.vec_id, q.dim, q.q,
        |  CASE WHEN s.n * s.s2 - s.s1 * s.s1 > 0 THEN
        |    CAST(round(CAST(q.q * s.n - s.s1 AS DOUBLE)
        |      / sqrt(CAST(s.n * s.s2 - s.s1 * s.s1 AS DOUBLE))
        |      * 1000000) AS BIGINT)
        |  END AS z_ppm
        |FROM q JOIN s ON q.dim = s.dim""".stripMargin,

    // identical double chain: float widens exactly, (x−mn)·L/(mx−mn)
    // in the same operand order, floor of an identical double
    "q145_embed_quantize" ->
      s"""WITH e AS (
         |  SELECT vec_id, CAST(u.i AS INT) AS dim,
         |    CAST(embedding[CAST(u.i AS INT) + 1] AS DOUBLE) AS x
         |  FROM embeddings, unnest(range(len(embedding))) AS u(i)),
         |mm AS (SELECT dim, min(x) AS mn, max(x) AS mx FROM e GROUP BY dim)
         |SELECT e.vec_id, e.dim,
         |  CAST(CASE WHEN mm.mx = mm.mn THEN 0
         |       ELSE LEAST($QuantLevels - 1,
         |         floor((e.x - mm.mn) * ${QuantLevels.toDouble}
         |           / (mm.mx - mm.mn)))
         |       END AS INT) AS code
         |FROM e JOIN mm ON e.dim = mm.dim""".stripMargin,

    "q93_integrity_audit" ->
      s"""SELECT 'li_nonpositive_qty' AS "check",
         |  CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT) AS n_bad
         |FROM lineitem
         |UNION ALL
         |SELECT 'li_discount_range',
         |  CAST(count(*) FILTER (WHERE NOT (l_discount BETWEEN 0 AND 1))
         |    AS BIGINT)
         |FROM lineitem
         |UNION ALL
         |SELECT 'li_null_orderkey',
         |  CAST(count(*) FILTER (WHERE l_orderkey IS NULL) AS BIGINT)
         |FROM lineitem
         |UNION ALL
         |SELECT 'o_null_custkey',
         |  CAST(count(*) FILTER (WHERE o_custkey IS NULL) AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'o_bad_status',
         |  CAST(count(*) FILTER (WHERE o_orderstatus NOT IN ('O','F','P'))
         |    AS BIGINT)
         |FROM orders
         |UNION ALL
         |SELECT 'ev_dup_user_ts',
         |  CAST(coalesce(sum(n - 1), 0) AS BIGINT)
         |FROM (SELECT count(*) AS n FROM events GROUP BY user_id, ts)
         |UNION ALL
         |SELECT 'li_orphan_after_delete', CAST(count(*) AS BIGINT)
         |FROM lineitem
         |WHERE l_orderkey NOT IN (
         |  SELECT o_orderkey FROM orders WHERE o_orderkey % $DiffMod <> 0
         |  UNION ALL
         |  SELECT o_orderkey + $AddedKeyShift FROM orders
         |  WHERE o_orderkey % $DiffMod = 2)""".stripMargin,

    "q91_transition_matrix" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id, event_type
        |  FROM events),
        |p AS (
        |  SELECT event_type AS from_state,
        |    lead(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS to_state
        |  FROM e),
        |m AS (
        |  SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
        |  FROM p WHERE to_state IS NOT NULL GROUP BY 1, 2)
        |SELECT from_state, to_state, n,
        |  CAST(sum(n) OVER (PARTITION BY from_state) AS BIGINT) AS out_total,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY from_state)
        |    AS BIGINT) AS p_ppm
        |FROM m""".stripMargin,

    // same blocking + length lower bound + exact integer DP as the
    // Spark side; the blocking predicates ARE the operator contract
    "q112_fuzzy_join" ->
      s"""WITH n AS (SELECT DISTINCT p_name AS name FROM part),
         |b AS (SELECT name, substr(name, 1, $FuzzyPrefixLen) AS blk FROM n)
         |SELECT a.name AS name_a, c.name AS name_b,
         |  CAST(levenshtein(a.name, c.name) AS INT) AS dist
         |FROM b a JOIN b c ON a.blk = c.blk AND a.name < c.name
         |WHERE abs(length(a.name) - length(c.name)) <= $FuzzyMaxDist
         |  AND levenshtein(a.name, c.name) <= $FuzzyMaxDist""".stripMargin,

    "q113_label_propagation" -> lpaSql)
}
