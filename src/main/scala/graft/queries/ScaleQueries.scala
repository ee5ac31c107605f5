package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ingest.{RawZone, RawZoneGen}
import graft.sources.{Changelog, Sinks}
import graft.transform.{Financials, Rollup, Summary, Upsert}

/** Scale-proportional pipeline queries: the flagship G1 unpivot and the
  * Summary dimension build running on an sf-proportional synthetic raw
  * zone (7.92M fact rows at sf0.1 — the reference's 8M-row workload,
  * Total.PNG), plus the two-sided upsert + raw-zone append round-trip.
  *
  * Oracle strategy: the raw zone is a pure arithmetic function of the
  * symbol index (RawZoneGen), so DuckDB REGENERATES the expected output
  * from range() cross joins — a first-principles differential test of
  * the whole generate → JSON → parse → unpivot → dedup → layout → write
  * → read pipeline. Nothing is golden-row hand-derivation; every row is
  * recomputed independently by both engines.
  */
object ScaleQueries {

  private def n(d: String): Int = RawZoneGen.symbolCount(RawZoneGen.sfOf(d))

  /** The maintained fact table (bucket-partitioned layout), staged ONCE
    * per JVM per size — the fixture for queries whose subject is READING
    * that layout (q57 point lookup), not building it. q38/q54 always
    * rebuild it live: building is their subject.
    */
  private val factStaged = scala.collection.concurrent.TrieMap[Int, String]()
  def stagedFactPath(s: SparkSession, syms: Int): String =
    factStaged.getOrElseUpdate(syms, {
      val p = Sinks.tmpPath(s"fact_staged_$syms")
      Financials.normalizeInto(s.read.parquet(RawZoneGen.stagedPath(s, syms)), p)
      p
    })

  /** The 3-commit changelog fixture (day 1 = stale every-10th-symbol
    * universe, day 2 = evens fresh, day 3 = odds fresh), staged ONCE
    * per JVM per size — for queries whose subject is READING the log
    * (q168 CDF, q169 CDF-driven maintenance); q129/q137/q151 rebuild
    * live because committing is their subject.
    */
  private val cdfLogStaged = scala.collection.concurrent.TrieMap[Int, String]()
  private def stagedCdfLog(s: SparkSession, syms: Int): String =
    cdfLogStaged.getOrElseUpdate(syms, {
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val path = Sinks.tmpPath(s"fact_cdf_$syms")
      Sinks.deleteRecursively(path)
      Seq("2025-08-14", "2025-08-15", "2025-08-16").zipWithIndex.foreach {
        case (day, i) => Changelog.commit(
          Financials.normalize(raw.filter(col("load_date") === lit(day))),
          path, i.toLong)
      }
      path
    })

  /** The two bucketed catalog tables of q56, staged ONCE per JVM per
    * size (mirrors RawZoneGen.stagedPath): the query's subject is the
    * ZERO-EXCHANGE sort-merge join the bucketed layout enables, so the
    * timed window must measure the join + aggregate — not two
    * saveAsTable builds, which at deployment scale happen once at write
    * time, not per query.
    */
  private val bucketedStaged = scala.collection.concurrent.TrieMap[Int, (String, String)]()
  def stagedBucketedTables(s: SparkSession, syms: Int): (String, String) =
    bucketedStaged.getOrElseUpdate(syms, {
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val factT = s"fact_b_$syms"
      val sumT = s"summary_b_$syms"
      Financials.normalize(raw).write.mode("overwrite")
        .bucketBy(8, "stock").sortBy("stock")
        .option("path", Sinks.tmpPath(factT)).saveAsTable(factT)
      Summary.normalize(raw).drop("updated_at").write.mode("overwrite")
        .bucketBy(8, "stock").sortBy("stock")
        .option("path", Sinks.tmpPath(sumT)).saveAsTable(sumT)
      (factT, sumT)
    })

  /** ANALYZE, once per JVM per table — catalog stats are session-state,
    * but the staged tables are JVM-memoized so the stats follow them.
    */
  private val statsAnalyzed = scala.collection.concurrent.TrieMap[String, Boolean]()
  private def analyzeOnce(s: SparkSession, table: String): Unit =
    statsAnalyzed.getOrElseUpdate(table, {
      s.sql(s"ANALYZE TABLE $table COMPUTE STATISTICS FOR ALL COLUMNS")
      true
    }): Unit

  /** Total bytes of the parquet files under a staged table's dir — the
    * size Catalyst falls back to when a relation has no catalog stats.
    */
  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new java.io.File(path))
  }

  /** Run `f` with session confs set, restoring prior values after — for
    * queries that must pin planner behavior without leaking it into the
    * rest of the suite. The materialization MUST happen inside `f`
    * (plans are lazy; a conf restored before the action never applied).
    */
  private def withConfs[T](s: SparkSession, kvs: (String, String)*)(f: => T): T = {
    val old = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try f finally old.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  /** Stage every scale fixture for a bench dir (called by Bench outside
    * the timed window; Verify pays it inside whichever query touches it
    * first, where wall-clock is not a metric).
    */
  def stageFixtures(s: SparkSession, d: String): Unit = {
    val syms = n(d)
    RawZoneGen.stagedPath(s, syms): Unit
    stagedFactPath(s, syms): Unit
    stagedBucketedTables(s, syms): Unit
    stagedCdfLog(s, syms): Unit          // q168/q169 read subject
    stagedEventLanding(s, d): Unit       // q159/q165/q167 stream feed
    stagedOrdersWarehouse(s, d): Unit    // q160 pushed-read subject
    stagedTypedEventLayout(s, d): Unit   // q171/q172 star layout
    stagedRetentionLayout(s, d): Unit    // q179 sweep master copy
  }

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(

    // G1 at scale — the engine's name claim. Generate the raw zone,
    // write it with the load-date-partitioned layout, read it back,
    // normalize (latest-per-symbol dedup → from_json → 6-pane explode →
    // double explode → derived cols → PK dedup), write the fact table
    // with the clustered-PK layout, read it back. sf0.01 → 792,000 rows;
    // sf0.1 → 7,920,000 rows (the reference's COUNT(*) is 7,891,303).
    "q38_fin_unpivot_sf" -> ((s, d) => {
      val syms = n(d)
      val factPath = Sinks.tmpPath(s"fact_$syms")
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      Financials.normalizeInto(raw, factPath) // fused: one exchange, of the raw rows
      s.read.parquet(factPath).drop("bucket") // physical partition col
    }),

    // The Summary dimension over the same raw zone: one row per symbol,
    // stale generations dropped by the latest-per-symbol dedup,
    // city/state/country filled purely by the F5–F7 regex enrichment
    // (the generator omits them from info).
    "q39_summary_sf" -> ((s, d) =>
      Summary.normalize(s.read.parquet(RawZoneGen.stagedPath(s, n(d))))
        .drop("updated_at")),

    // S5 + J3 two-sided: append two generations through the raw-zone
    // append sink, read the directory back, upsert incoming over
    // existing (key o_orderkey, incoming generation wins; overlapping
    // keys are orderkeys divisible by 6).
    "q40_upsert_roundtrip" -> ((s, d) => {
      val path = Sinks.tmpPathFor("upsert_orders", d)
      Sinks.deleteRecursively(path)
      val orders = Tables.orders(s, d)
      val gen0 = orders.filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          lit(0L).as("gen"))
      val gen1 = orders.filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") + 100000.0).as("o_totalprice"), lit(1L).as("gen"))
      Sinks.appendRawZone(gen0, path)
      Sinks.appendRawZone(gen1, path)
      val all = s.read.parquet(path)
      Upsert.upsert(all.filter(col("gen") === 0), all.filter(col("gen") === 1),
        Seq("o_orderkey"), col("gen"))
    }),

    // Incremental fact maintenance — what the load-date-partitioned raw
    // zone is FOR: re-normalize one day's partition at a time (the scan
    // prunes to that partition; day 1 even includes the STALE
    // generations) and PK-upsert each delta into the running fact
    // table. Each increment is O(delta) END TO END: the raw scan prunes
    // to one load_date partition, and the write (Sinks.upsertFactDelta)
    // reads + dynamically overwrites only the stock-hash buckets the
    // delta touches — never the full history. Three days of increments
    // converge to the same table as the q38 full recompute, so the
    // oracle IS q38's regenerate-from-law SQL.
    "q54_incremental_fact" -> ((s, d) => {
      val syms = n(d)
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val days = Seq("2025-08-14", "2025-08-15", "2025-08-16")
      val path = Sinks.tmpPath(s"fact_incr_$syms")
      Sinks.deleteRecursively(path) // re-runnable: day 1 starts fresh
      days.zipWithIndex.foreach { case (day, i) =>
        val dayRaw = raw.filter(col("load_date") === lit(day))
        if (i == 0) Financials.normalizeInto(dayRaw, path)
        else {
          // checkpoint the bucketed delta ONCE and hand the blocks to
          // the upsert (materialized = true): the touched-bucket probe
          // scans the in-memory delta instead of a second raw-partition
          // pass, and the stray guard is structurally unnecessary —
          // one materialization, one probe job, one merge job per day
          val dayFacts = Financials.normalize(dayRaw)
            .withColumn("bucket", Sinks.factBucket(32)).localCheckpoint()
          Sinks.upsertFactDelta(s, path, dayFacts, materialized = true)
        }
      }
      s.read.parquet(path).drop("bucket")
    }),

    // Incremental aggregate maintenance (materialized-view upkeep) —
    // the q54 O(delta) discipline one level UP: a (stock, year) rollup
    // kept exactly in sync with the incrementally-upserted fact table
    // by SIGNED delta aggregates — +1 rows for each day's inserts, −1
    // rows for the old fact versions the upsert replaces (retraction:
    // day 1's stale-symbol facts are replaced on days 2/3, so "just
    // add the delta" would double-count them). Partials are integers
    // (count, non-null count, quarter-scaled value sum), so the
    // maintained table is BIT-IDENTICAL to the full recompute — the
    // oracle aggregates the same regenerate-from-law fact table q54
    // converges to. History is never rescanned: replaced versions come
    // from the bucket-pruned read, and the merge rewrites only touched
    // rollup buckets (transform/Rollup).
    "q128_incremental_rollup" -> ((s, d) => {
      val syms = n(d)
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val days = Seq("2025-08-14", "2025-08-15", "2025-08-16")
      val factPath = Sinks.tmpPath(s"fact_ivm_$syms")
      val rollPath = Sinks.tmpPath(s"rollup_ivm_$syms")
      Sinks.deleteRecursively(factPath)
      Sinks.deleteRecursively(rollPath) // re-runnable: day 1 starts fresh
      val valueQ = (col("value") * 4).cast("long") // exact: values ∈ ℤ/4
      days.zipWithIndex.foreach { case (day, i) =>
        val dayRaw = raw.filter(col("load_date") === lit(day))
        // ONE run of the parse+unpivot pipeline feeds EVERY consumer of
        // the day (retraction probe, delta aggregate, fact write): the
        // bucket column is stamped BEFORE the checkpoint, so the upsert
        // reuses this materialization as-is (materialized = true — no
        // second copy), the touched-bucket probe scans the in-memory
        // blocks (no second raw-partition pass), and day 0's layout
        // write reuses it too (the old normalizeInto re-ran the whole
        // parse on the raw partition a second time). Guide §1.2.
        val dayFacts = Financials.normalize(dayRaw)
          .withColumn("bucket", Sinks.factBucket(32)).localCheckpoint()
        val facts = dayFacts.drop("bucket")
        val replaced =
          if (i == 0) None
          else {
            // old versions this delta will overwrite: bucket-pruned
            // fact read, PK semi-join against the delta — the same
            // touched-bucket slice the upsert itself rewrites. Exact
            // from the delta's own buckets (a raw symbol whose payload
            // parses to zero facts replaces nothing). The delta side
            // broadcasts: it is bounded by the increment (§3.2), so
            // the table side is never shuffled for the retraction.
            val touched = dayFacts.select(col("bucket")).distinct()
              .collect().map(_.getInt(0)).toIndexedSeq
            Some(s.read.parquet(factPath)
              .filter(col("bucket").isin(touched: _*))
              .join(broadcast(dayFacts.select(Financials.Pk.map(col): _*)),
                Financials.Pk, "left_semi"))
          }
        val signed = replaced.fold(facts.withColumn("_sign", lit(1L)))(
          r => facts.withColumn("_sign", lit(1L))
            .unionByName(r.drop("bucket").withColumn("_sign", lit(-1L))))
        // materialize BEFORE the upsert rewrites the files `replaced`
        // lazily reads — Spark plans are lazy, the overwrite is not
        val deltaAgg = signed.groupBy("stock", "calendar_year")
          .agg(sum(col("_sign")).as("n_facts"),
            sum(col("_sign") * when(col("value").isNotNull, 1L).otherwise(0L))
              .as("nn"),
            sum(col("_sign") * valueQ).as("sum_q"))
          .localCheckpoint()
        // the fact write and the rollup merge touch disjoint layouts
        // and every shared input is checkpointed above — overlap them
        // so the merge back-fills the upsert's task tail (§2.6)
        graft.Tuning.inParallel(
          if (i == 0) Sinks.writeFactPartitioned(facts, factPath)
          else Sinks.upsertFactDelta(s, factPath, dayFacts,
            materialized = true),
          Rollup.mergeDelta(s, rollPath, deltaAgg,
            Seq("stock", "calendar_year"), "n_facts"))
      }
      // derived read: all-null groups surface as NULL (nn disambiguates
      // a true zero sum from a cancelled-to-null one)
      s.read.parquet(rollPath).select(col("stock"), col("calendar_year"),
        col("n_facts"),
        when(col("nn") === 0L, lit(null).cast("double"))
          .otherwise(col("sum_q").cast("double") / 4.0).as("sum_value"))
    }),

    // Time travel over a commit-partitioned fact changelog
    // (sources/Changelog) — each day's normalized delta is an O(delta)
    // APPEND stamped with a monotone commit id (nothing rewritten in
    // place, every historical snapshot stays readable), and "the table
    // AS OF commit v" is the keyed last-write-wins compaction of the
    // partition-pruned commits ≤ v. Read AS OF commit 1 (days 1+2
    // applied, day 3 committed but invisible): day 1's stale payloads
    // (every 10th symbol — all even) were REPLACED by day 2's fresh
    // even-symbol load, and the odd symbols have not arrived yet, so
    // the snapshot is exactly the fresh even-symbol fact table — the
    // oracle regenerates it from the law restricted to even i. The
    // later commit 2 sitting in the log and NOT leaking into the read
    // is the property under test.
    "q129_time_travel" -> ((s, d) => {
      val syms = n(d)
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val days = Seq("2025-08-14", "2025-08-15", "2025-08-16")
      val path = Sinks.tmpPath(s"fact_tt_$syms")
      Sinks.deleteRecursively(path) // re-runnable: commit 0 starts fresh
      days.zipWithIndex.foreach { case (day, i) =>
        Changelog.commit(
          Financials.normalize(raw.filter(col("load_date") === lit(day))),
          path, i.toLong)
      }
      Changelog.snapshotAt(s, path, Financials.Pk, 1L)
    }),

    // CHANGE DATA FEED over the same 3-commit changelog: every key
    // whose tracked measure differs between AS OF 0 (the stale
    // every-10th-symbol universe) and AS OF 2 (everything fresh),
    // labeled insert/update with old/new side by side — computed the
    // changelog-native way: candidates ONLY from the commits in
    // (0, 2] (partition-pruned), endpoint states semi-joined to the
    // candidates BEFORE compaction, O(delta) never two-full-snapshot
    // diff. The value law genuinely exercises the no-op suppression:
    // a stale row (… + 0.75) equals its fresh replacement exactly
    // when k ≡ 3 (mod 7) and k ≢ 0 (mod 97) — those keys must VANISH
    // from the feed in both engines.
    "q168_changelog_cdf" -> ((s, d) =>
      Changelog.changesBetween(s, stagedCdfLog(s, n(d)), Financials.Pk,
        0L, 2L, trackCols = Seq("value"))),

    // CDF-DRIVEN AGGREGATE MAINTENANCE — the proof that q168's feed
    // is SUFFICIENT for a downstream consumer to maintain an exact
    // aggregate (the contract CDC exists to provide): start from the
    // rollup of the AS OF 0 state, apply the feed as signed deltas
    // (insert → +new; update → +new −old; n_facts moves only on
    // insert), and the result must equal the rollup of the AS OF 2
    // state — the SAME oracle as the full-recompute rollup. The
    // suppressed no-op rows (old ≡ new) contribute zero to every
    // partial by construction, so the suppression is proven SAFE for
    // maintenance, not just cosmetic. calendar_year rides as a
    // tracked column (constant per PK — never affects suppression)
    // so the delta can group without re-deriving from the date.
    "q169_cdf_maintenance" -> ((s, d) => {
      val path = stagedCdfLog(s, n(d))
      val valueQ = (c: org.apache.spark.sql.Column) =>
        coalesce((c * 4).cast("long"), lit(0L))
      val nonNull = (c: org.apache.spark.sql.Column) =>
        when(c.isNotNull, 1L).otherwise(0L)
      val roll0 = Changelog.snapshotAt(s, path, Financials.Pk, 0L)
        .groupBy(col("stock"), col("calendar_year"))
        .agg(count(lit(1)).as("n_facts"),
          sum(nonNull(col("value"))).as("nn"),
          sum(valueQ(col("value"))).as("sum_q"))
      val isUpd = col("change_type") === "update"
      val deltas = Changelog.changesBetween(s, path, Financials.Pk,
          0L, 2L, trackCols = Seq("value", "calendar_year"))
        .groupBy(col("stock"), col("new_calendar_year").as("calendar_year"))
        .agg(sum(when(isUpd, 0L).otherwise(1L)).as("n_facts"),
          sum(nonNull(col("new_value")) -
            when(isUpd, nonNull(col("old_value"))).otherwise(0L)).as("nn"),
          sum(valueQ(col("new_value")) -
            when(isUpd, valueQ(col("old_value"))).otherwise(0L)).as("sum_q"))
      roll0.unionByName(deltas)
        .groupBy(col("stock"), col("calendar_year"))
        .agg(sum(col("n_facts")).as("n_facts"), sum(col("nn")).as("nn"),
          sum(col("sum_q")).as("sum_q"))
        .filter(col("n_facts") =!= 0L)
        .select(col("stock"), col("calendar_year"), col("n_facts"),
          when(col("nn") === 0L, lit(null).cast("double"))
            .otherwise(col("sum_q").cast("double") / 4.0).as("sum_value"))
    }),

    // Changelog checkpoint + vacuum — the bounded-history half of the
    // q129 time-travel story: after the same three commits, fold
    // commits ≤ 1 into a single base commit (written as commit 1) and
    // VACUUM the superseded directories, then read AS OF the still-
    // untouched commit 2. The read must be byte-identical to the full
    // fresh table (base ∪ commit 2 under LWW = all three days applied)
    // — proof the fold lost nothing and the vacuum dropped only
    // superseded state. History ABOVE the horizon is never read:
    // checkpoint cost is O(live keys ≤ v), independent of later
    // commits — at 100 TB you checkpoint yesterday without touching
    // today's appends.
    "q137_changelog_checkpoint" -> ((s, d) => {
      val syms = n(d)
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val days = Seq("2025-08-14", "2025-08-15", "2025-08-16")
      val path = Sinks.tmpPath(s"fact_ckpt_$syms")
      Sinks.deleteRecursively(path) // re-runnable: commit 0 starts fresh
      days.zipWithIndex.foreach { case (day, i) =>
        Changelog.commit(
          Financials.normalize(raw.filter(col("load_date") === lit(day))),
          path, i.toLong)
      }
      Changelog.checkpoint(s, path, Financials.Pk, 1L)
      Changelog.snapshotAt(s, path, Financials.Pk, 2L)
    }),

    // Targeted delete on the bucketed layout — right-to-be-forgotten:
    // build the maintained fact table, then DELETE every 7th symbol's
    // rows. Only the buckets those symbols hash into are rewritten
    // (anti-join merge, O(|keys| × history/buckets)); a fully-emptied
    // bucket is vacuumed explicitly (dynamic overwrite alone would
    // leave its old directory standing). Oracle = the regenerate law
    // restricted to the surviving symbols.
    "q151_targeted_delete" -> ((s, d) => {
      val syms = n(d)
      val path = Sinks.tmpPath(s"fact_del_$syms")
      Sinks.deleteRecursively(path) // re-runnable: fresh build each run
      Financials.normalizeInto(
        s.read.parquet(RawZoneGen.stagedPath(s, syms)), path)
      val goners = s.range(syms).filter(col("id") % 7 === 0)
        .select(format_string("S%05d", col("id")).as("stock"))
      Sinks.deleteFactKeys(s, path, goners)
      s.read.parquet(path).drop("bucket")
    }),

    // Schema evolution across changelog commits — the drift every
    // long-lived table suffers: day 3's delta ships an ADDED column
    // (ingest_ver) the earlier commits never had. snapshotAt with
    // mergeSchema = true merges the commit schemas (union) — the log
    // evolves through plain `commit` with no evolution marker, so the
    // caller states it —, pre-evolution rows null-fill,
    // and LWW compaction is unchanged — so the snapshot shows the flag
    // exactly on the keys whose LATEST version arrived after the
    // evolution (the odd symbols; the evens' day-2 versions predate
    // it). No rewrite of history, no re-ingest: the 100-TB answer to
    // "we added a column last quarter".
    "q143_changelog_evolution" -> ((s, d) => {
      val syms = n(d)
      val raw = s.read.parquet(RawZoneGen.stagedPath(s, syms))
      val days = Seq("2025-08-14", "2025-08-15", "2025-08-16")
      val path = Sinks.tmpPath(s"fact_evo_$syms")
      Sinks.deleteRecursively(path) // re-runnable: commit 0 starts fresh
      days.zipWithIndex.foreach { case (day, i) =>
        val delta =
          Financials.normalize(raw.filter(col("load_date") === lit(day)))
        Changelog.commit(
          if (i == 2) delta.withColumn("ingest_ver", lit("v2")) else delta,
          path, i.toLong)
      }
      Changelog.snapshotAt(s, path, Financials.Pk, 2L, mergeSchema = true)
    }),

    // Streaming materialized-view maintenance — the q128 exact-IVM day
    // step driven by Structured Streaming instead of a batch loop: the
    // raw zone's days are staged as a landing dir, consumed one file
    // per micro-batch, and each foreachBatch runs ONE transactional
    // maintenance step (normalize → retract replaced fact versions →
    // upsert → signed-delta rollup merge). Shares q128's oracle: both
    // maintenance paths must converge to the identical bit-exact table.
    "q131_stream_ivm" -> ((s, d) => {
      val syms = n(d)
      graft.streaming.StreamIvm.maintainedRollup(
        s, RawZoneGen.stagedPath(s, syms), s"n$syms")
    }),

    // Exactly-once streaming maintenance on changelog storage — the
    // MVCC answer to the q131 variant's documented re-delivery gap:
    // fact and rollup live as commit-partitioned changelogs, each
    // micro-batch idempotently overwrites its OWN commit directory and
    // reads retractions from the immutable commits < b, so an
    // at-least-once foreachBatch retry recomputes byte-identical
    // output. Third maintenance path sharing the bit-exact oracle.
    "q134_stream_ivm_mvcc" -> ((s, d) => {
      val syms = n(d)
      graft.streaming.StreamIvm.maintainedRollupMvcc(
        s, RawZoneGen.stagedPath(s, syms), s"n$syms")
    }),

    // Bucketed co-located join — the 100 TB co-location tool the
    // repartition-based layout can't give: fact and summary are both
    // written bucketBy(stock) + sortBy(stock) into the session catalog
    // (staged once per JVM — the subject here is READING the bucketed
    // layout, not building it), so the fact⋈summary sort-merge join
    // needs NO exchange on either side — the only Exchange in the plan
    // is the 5-row sector aggregate above it (verified via Explain; the
    // `merge` hint pins the SMJ so the demonstration doesn't flip to
    // broadcast at small test scales — at 100 TB neither side
    // broadcasts anyway). The per-sector value sum is exact: every
    // generated value is a multiple of 0.25, so sum((value·4) as
    // long)/4 is an order-independent integer sum on both engines.
    "q56_bucketed_join" -> ((s, d) => {
      val (factT, sumT) = stagedBucketedTables(s, n(d))
      s.table(factT)
        .hint("merge")
        .join(s.table(sumT).select(col("stock"), col("sector")), "stock")
        .groupBy(col("sector"))
        .agg(count(lit(1)).as("n_facts"),
          (sum((col("value") * 4).cast("long")).cast("double") / 4.0)
            .as("sum_value"))
    }),

    // Point lookup on the maintained fact layout — the reference's
    // `idx_symbol` verify query (Financilas.py:186–195, details.py:199)
    // against the engine's clustered table: latestFacts derives the
    // symbol's stock-hash bucket on the driver, so the scan PARTITION-
    // PRUNES to one bucket directory and parquet min/max stats on the
    // PK-sorted files prune row groups within it (Explain-asserted in
    // LayoutSpec). The fixture table is staged per JVM; the timed work
    // is the pruned read itself.
    "q57_clustered_point" -> ((s, d) =>
      Financials.latestFactsAt(s, stagedFactPath(s, n(d)), PointSymbol)),

    // S4 — the live-connector shape as a real DataSource V2 source:
    // partition-planned, rate-limit-capable (unthrottled here), with
    // column pruning down to the key columns. The scan reads the
    // sf-proportional symbol universe through the connector and parses
    // the profile fields a real ingest would keep; the oracle
    // regenerates them from the law, so the whole connector → JSON →
    // parse path is differentially tested.
    "q67_connector_scan" -> ((s, d) => {
      import org.apache.spark.sql.types.StructType
      val infoSchema = new StructType().add("info", new StructType()
        .add("currency", "string")
        .add("fullTimeEmployees", "string")
        .add("sector", "string"))
      s.read.format(classOf[graft.sources.ProfileConnector].getName)
        .option("symbols", n(d)).option("numPartitions", 8).load()
        .select(col("symbol"),
          from_json(col("payload"), infoSchema).getField("info").as("_i"),
          col("loaded_at"))
        .select(col("symbol"),
          col("_i.currency").as("currency"),
          col("_i.fullTimeEmployees").cast("int").as("employees"),
          col("_i.sector").as("sector"),
          col("loaded_at"))
    }),

    // S4 hardening — connector FILTER pushdown (SupportsPushDownFilters):
    // a symbol range + IN predicate must reach the scan (require()d in
    // PushedFilters, the q160 discipline), prune the connector's
    // partition PLAN to the matching indices, and — the part a plan
    // string cannot show — non-matching payloads must never be BUILT:
    // the payloadBuilds counter is sampled around a forced full
    // materialization and must advance by exactly the matching count.
    // This is details.py:139–153's per-symbol fetch shape: the
    // connector fetches the symbols the query names, never the
    // universe.
    "q187_connector_filter_pushdown" -> ((s, _) => {
      import org.apache.spark.sql.types.StructType
      val scan = s.read
        .format(classOf[graft.sources.ProfileConnector].getName)
        .option("symbols", VerifyN).option("numPartitions", 8).load()
        .filter(col("symbol") >= "S00005" && col("symbol") <= "S00017" &&
          !col("symbol").isin("S00007", "S00011"))
      val plan = scan.queryExecution.executedPlan.toString
      require(plan.contains("PushedFilters: [") &&
        plan.contains("GreaterThanOrEqual(symbol,S00005)") &&
        plan.contains("LessThanOrEqual(symbol,S00017)"),
        s"symbol range must reach the connector scan, plan was:\n$plan")
      // isin-negation stays a residual (Not is not pushable here) —
      // Spark evaluates it above the scan; the accepted RANGE filters
      // are CONSUMED by the scan (exact inversion — see the connector
      // scaladoc) and alone bound the fetched/built set to 13 symbols
      val before = graft.sources.ProfileConnector.payloadBuilds.get()
      // collect the lengths, not count() — count would prune the
      // payload column away and the probe would prove nothing
      val lens = scan.select(col("symbol"), length(col("payload")).as("l"))
        .collect()
      val built = graft.sources.ProfileConnector.payloadBuilds.get() - before
      require(lens.length == 11 && lens.forall(_.getInt(1) > 10000),
        s"expected 11 surviving symbols with real payloads, got " +
          s"${lens.length}")
      require(built == 13L,
        s"pushdown must fetch only the 13 range-matching symbols " +
          s"(never the $VerifyN universe); built $built payloads")
      val infoSchema = new StructType().add("info", new StructType()
        .add("currency", "string")
        .add("fullTimeEmployees", "string")
        .add("sector", "string"))
      scan
        .select(col("symbol"),
          from_json(col("payload"), infoSchema).getField("info").as("_i"),
          col("loaded_at"))
        .select(col("symbol"),
          col("_i.currency").as("currency"),
          col("_i.fullTimeEmployees").cast("int").as("employees"),
          col("_i.sector").as("sector"),
          col("loaded_at"))
    }),

    // S4 hardening — connector AGGREGATE pushdown
    // (SupportsPushDownAggregates, the DSv2 mirror of q160's JDBC
    // pushed aggregates): a global count/min/max over a pushed symbol
    // range must reach the scan (require()d in PushedAggregates) and
    // fold into ARITHMETIC on the partition plan — the matching index
    // set is closed-form, so the scan emits ONE pre-aggregated row
    // and builds ZERO payloads (counter-proven around the collect;
    // the spec additionally proves no rate-limit token is spent).
    // Composes with filter pushdown: the range prunes first, the
    // aggregate folds over what survived.
    "q195_connector_agg_pushdown" -> ((s, _) => {
      val agg = s.read
        .format(classOf[graft.sources.ProfileConnector].getName)
        .option("symbols", VerifyN).option("numPartitions", 8).load()
        .filter(col("symbol") >= "S00005" && col("symbol") <= "S00017")
        .groupBy()
        .agg(count(col("symbol")).as("n_symbols"),
          min(col("symbol")).as("first_symbol"),
          max(col("symbol")).as("last_symbol"))
      val plan = agg.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregates: ["),
        s"aggregate must reach the connector scan, plan was:\n$plan")
      val before = graft.sources.ProfileConnector.payloadBuilds.get()
      val rows = agg.collect()
      val built = graft.sources.ProfileConnector.payloadBuilds.get() - before
      require(rows.length == 1 && built == 0L,
        s"pushed aggregate must emit one row and build NO payloads " +
          s"(rows ${rows.length}, built $built)")
      agg
    }),

    // S4 hardening — connector LIMIT / TOP-N pushdown
    // (SupportsPushDownLimit / SupportsPushDownTopN, the last two
    // DSv2 pushdown interfaces after columns/filters/aggregates): a
    // LIMIT k after the pushed symbol range must CHUNK the partition
    // plan to k symbols (the reference's own LIMIT 1 point-fetch
    // shape, Financilas.py:142–144 — require()d via PushedLimit in
    // the plan and the payload counter), and ORDER BY symbol DESC
    // LIMIT k must slice the LAST k of the range (PushedTopN). The
    // oracle-checked output is the top-4-descending slice of the
    // [5, 17] range under the profile law — proof the slicing pruned
    // nothing it shouldn't have; Spark's own Sort/Limit stay above
    // (partial push), so correctness never rides on the connector's
    // arithmetic.
    "q201_connector_limit_pushdown" -> ((s, _) => {
      import org.apache.spark.sql.types.StructType
      def ranged = s.read
        .format(classOf[graft.sources.ProfileConnector].getName)
        .option("symbols", VerifyN).option("numPartitions", 8).load()
        .filter(col("symbol") >= "S00005" && col("symbol") <= "S00017")
      // the LIMIT-only shape: one symbol planned, one payload built
      val lim1 = ranged.limit(1)
      require(lim1.queryExecution.executedPlan.toString
        .contains("PushedLimit: 1"),
        "LIMIT 1 must reach the connector scan")
      val b0 = graft.sources.ProfileConnector.payloadBuilds.get()
      val one = lim1.select(col("symbol"), length(col("payload"))).collect()
      val built1 = graft.sources.ProfileConnector.payloadBuilds.get() - b0
      require(one.length == 1 && built1 == 1L,
        s"LIMIT 1 must fetch exactly one symbol (got ${one.length} " +
          s"rows, $built1 payloads built)")
      // the top-N shape: the last 4 of the 13-symbol range
      val top = ranged.orderBy(col("symbol").desc).limit(4)
      require(top.queryExecution.executedPlan.toString
        .contains("PushedTopN: [symbol DESC, 4]"),
        "ORDER BY symbol DESC LIMIT 4 must reach the connector scan")
      val b1 = graft.sources.ProfileConnector.payloadBuilds.get()
      val four = top.select(col("symbol")).collect()
      val built4 = graft.sources.ProfileConnector.payloadBuilds.get() - b1
      require(four.length == 4 && built4 == 0L,
        s"top-N over a symbol-only projection must build NO payloads " +
          s"(built $built4)") // column pruning composes with the slice
      val infoSchema = new StructType().add("info", new StructType()
        .add("currency", "string")
        .add("fullTimeEmployees", "string")
        .add("sector", "string"))
      top
        .select(col("symbol"),
          from_json(col("payload"), infoSchema).getField("info").as("_i"),
          col("loaded_at"))
        .select(col("symbol"),
          col("_i.currency").as("currency"),
          col("_i.fullTimeEmployees").cast("int").as("employees"),
          col("_i.sector").as("sector"),
          col("loaded_at"))
    }),

    // JDBC warehouse round-trip (sources/JdbcStore) — the reference's
    // primary storage interface (MySQL append/point-read) exercised
    // through Spark's actual JDBC surface against the embedded Derby
    // on the classpath: batched parallel `write.jdbc` (VARCHAR DDL
    // overrides, as the reference's CREATE TABLE declares), then a
    // range-strided partitioned `read.jdbc` on the key with a
    // predicate PUSHED into each partition's WHERE clause (asserted
    // in JdbcStoreSpec; here verified by value — the oracle reads the
    // same rows straight from parquet, so any row the pushdown
    // wrongly pruned or duplicated breaks the hash). In production
    // only the URL changes; the options keep their meaning.
    "q154_jdbc_roundtrip" -> ((s, d) => {
      val db = Sinks.tmpPathFor("derby_orders", d)
      graft.sources.JdbcStore.writeTable(
        Tables.orders(s, d), db, "orders",
        columnTypes =
          Some("o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(15)"))
      graft.sources.JdbcStore.readPartitioned(s, db, "orders",
          "o_orderkey", 8)
        .filter(col("o_totalprice") > 150000.0)
    }),

    // Statistics-driven broadcast (CBO) — the 100×-scale claim
    // "Catalyst PROVES the small side broadcastable, it doesn't guess"
    // made checkable end-to-end, at the query's own scale. The dim is
    // the bucketed summary catalog table under a 3-conjunct equality
    // filter whose CBO selectivity is 1/(ndv·ndv·ndv) = 1/140 — an
    // estimate only ANALYZE'd column stats can produce; the no-stats
    // planner sees file-size × type-default width ratios and cannot
    // shrink a Filter at all. Both estimates are READ FROM THE PLAN
    // (optimizedPlan.stats under each conf), the broadcast threshold
    // is pinned strictly between them, and the require()s fail the
    // round unless the SAME hint-free join plans as SortMergeJoin
    // without CBO and BroadcastHashJoin with it. Materialized inside
    // the conf window (plans are lazy; a restored conf never applied).
    "q155_stats_broadcast_join" -> ((s, d) => {
      val syms = n(d)
      val (factT, sumT) = stagedBucketedTables(s, syms)
      analyzeOnce(s, sumT)
      // sector ∧ currency ∧ industry laws: i%5=0 ∧ i%4=0 ∧ i%7=0 ⇔ i%140=0
      def dim = s.table(sumT)
        .filter(col("sector") === "Technology" &&
          col("currency") === "USD" && col("industry") === "Industry 0")
        .select("stock")
      def out = s.table(factT).join(dim, "stock")
        .groupBy("calendar_year")
        .agg(count(lit(1)).as("n_facts"),
          sum(when(col("value").isNotNull, 1L).otherwise(0L)).as("_nn"),
          sum((col("value") * 4).cast("long")).as("_sum_q"))
        .select(col("calendar_year"), col("n_facts"),
          when(col("_nn") === 0L, lit(null).cast("double"))
            .otherwise(col("_sum_q").cast("double") / 4.0).as("sum_value"))
      def dimEstimate(cbo: Boolean): BigInt =
        withConfs(s, "spark.sql.cbo.enabled" -> cbo.toString) {
          dim.queryExecution.optimizedPlan.stats.sizeInBytes
        }
      val (e0, e1) = (dimEstimate(cbo = false), dimEstimate(cbo = true))
      require(e1 * 2 <= e0,
        s"stats no longer separate the estimates (no-stats=$e0 cbo=$e1)")
      val threshold = ((e0 + e1) / 2).toLong
      withConfs(s, "spark.sql.cbo.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("SortMergeJoin") &&
          !plan.contains("BroadcastHashJoin"),
          s"without stats the join must NOT broadcast ($threshold):\n$plan")
      }
      withConfs(s, "spark.sql.cbo.enabled" -> "true",
        "spark.sql.autoBroadcastJoinThreshold" -> threshold.toString) {
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("BroadcastHashJoin"),
          s"stats-driven broadcast did not happen ($threshold):\n$plan")
        out.localCheckpoint()
      }
    }),

    // S9/S10 at the CATALOG level — the reference's CREATE DATABASE /
    // CREATE TABLE IF NOT EXISTS + DESCRIBE discipline
    // (details.py:169–175, Financilas.py:38–66, Summary.py:31–59) as
    // real Spark DDL over the maintained layout: an EXTERNAL
    // partitioned table registered over the bucket-partitioned fact
    // dir, partitions recovered with MSCK REPAIR TABLE (the catalog
    // twin of S9's schema repair — registration alone leaves a
    // partitioned datasource table EMPTY), DESCRIBE EXTENDED asserted
    // to carry the location and the partition column, and the rollup
    // run THROUGH the catalog name, never the path. At deployment
    // scale this is the difference between "files on a bucket" and a
    // governed table: stats (q155), grants, and downstream tools all
    // hang off the catalog entry. Idempotent per JVM by IF NOT EXISTS
    // (Bench runs every query 3×).
    "q156_catalog_ddl" -> ((s, d) => {
      val syms = n(d)
      val path = stagedFactPath(s, syms)
      val tbl = s"graft_wh.financials_$syms"
      s.sql("CREATE DATABASE IF NOT EXISTS graft_wh")
      val cols = s.read.parquet(path).schema.fields
        .filter(_.name != "bucket")
        .map(f => s"`${f.name}` ${f.dataType.sql}").mkString(", ")
      s.sql(s"""CREATE TABLE IF NOT EXISTS $tbl ($cols, bucket INT)
               |USING parquet PARTITIONED BY (bucket)
               |LOCATION '$path'""".stripMargin)
      s.sql(s"MSCK REPAIR TABLE $tbl")
      val desc = s.sql(s"DESCRIBE EXTENDED $tbl").collect()
      def row(k: String) = desc.find(r => r.getString(0).trim == k)
      require(row("Location").exists(r =>
        r.getString(1).contains(new java.io.File(path).getName)),
        s"catalog must record the external location:\n${desc.mkString("\n")}")
      require(desc.exists(r => r.getString(0).trim == "bucket"),
        "partition column must be cataloged")
      s.sql(s"""SELECT statement_type, calendar_year,
               |  count(*) AS n_facts,
               |  CASE WHEN count(value) = 0 THEN NULL
               |    ELSE CAST(sum(CAST(value * 4 AS BIGINT)) AS DOUBLE) / 4.0
               |  END AS sum_value
               |FROM $tbl GROUP BY 1, 2""".stripMargin)
    }),

    // Streaming → warehouse EXACTLY-ONCE — the foreachBatch JDBC sink
    // discipline StreamIvm's scaladoc names as the remaining delivery
    // gap (Structured Streaming redelivers a batch after a mid-batch
    // crash; a naive append double-inserts). The events landing dir
    // arrives file-by-file into JdbcStore.appendBatchExactlyOnce
    // (stage table per batch → one RDBMS transaction publishing rows +
    // ledger entry atomically), and BOTH crash legs are exercised
    // in-query, not just claimed:
    //  - crash DURING STAGING: before the stream starts, batch 2's
    //    stage table is pre-poisoned with a partial garbage attempt
    //    (rows that exist in no landing file) — the sink's re-runnable
    //    staging overwrite must clobber it, or the oracle's full-table
    //    hash breaks;
    //  - crash AFTER COMMIT: batch 0 is redelivered after the stream
    //    finishes — the ledger must no-op it (require: count
    //    unchanged), or the compare breaks with doubled rows.
    // The read-back is the same range-strided partitioned scan as
    // q154; the oracle reads events straight from parquet, so any
    // lost, duplicated, or precision-drifted row (µs timestamps
    // included) fails the hash. On MySQL only the URL changes.
    "q159_jdbc_stream_sink" -> ((s, d) => {
      import org.apache.spark.sql.Row
      import org.apache.spark.sql.streaming.Trigger
      val db = Sinks.tmpPathFor("derby_events_wh", d)
      val landing = stagedEventLanding(s, d)
      val tbl = "EVENTS_WH"
      val types = Some("event_type VARCHAR(32), props VARCHAR(64)")
      // rerun = fresh delivery story: drop target + ledger rows (the
      // Derby DIR must survive — an embedded engine keeps it booted)
      graft.sources.JdbcStore.resetExactlyOnceTarget(db, tbl)
      // simulate a crash mid-staging of batch 2: partial garbage rows
      graft.sources.JdbcStore.writeTable(
        s.read.parquet(landing).limit(5)
          .withColumn("event_id", col("event_id") + lit(100000000L)),
        db, s"${tbl}_STAGE_2", types)
      val ckpt = Sinks.tmpPathFor("derby_events_ckpt", d)
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(eventsWhSchema)
        .option("maxFilesPerTrigger", 1) // one landing file per batch
        .parquet(landing)
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          graft.sources.JdbcStore.appendBatchExactlyOnce(
            b, db, tbl, id, types)
        }
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // simulate a crash after batch 0's commit: redelivery must no-op
      val n0 = graft.sources.JdbcStore.tableCount(db, tbl)
      graft.sources.JdbcStore.appendBatchExactlyOnce(
        s.read.parquet(landing)
          .filter(pmod(col("event_id"), lit(4)) === 0), db, tbl, 0L, types)
      require(graft.sources.JdbcStore.tableCount(db, tbl) == n0,
        "redelivered batch 0 must be a ledger no-op")
      graft.sources.JdbcStore.readPartitioned(s, db, tbl, "event_id", 8)
        .select("event_id", "ts", "user_id", "event_type", "value", "props")
    }),

    // JDBC AGGREGATE PUSHDOWN through the V2 JDBCTableCatalog — the
    // other half of the warehouse interface story: q154/q159 move ROWS
    // across the wire; at 100 TB the winning query ships the
    // AGGREGATION to the warehouse and moves only group-count rows
    // back. The orders warehouse models money as integer cents (the
    // deployment-grade choice — and what keeps a warehouse-side SUM
    // bit-exact against the parquet oracle regardless of either
    // engine's float summation order). The catalog is registered at
    // runtime (catalog confs resolve lazily), the GROUP BY runs
    // through the catalog name, and the require()s pin the contract:
    // COUNT/SUM/MIN/MAX and the group-by land in PushedAggregates /
    // PushedGroupByExpressions (Derby executes them; no Spark-side
    // scan of the table), with the status predicate in PushedFilters.
    "q160_jdbc_agg_pushdown" -> ((s, d) => {
      val db = stagedOrdersWarehouse(s, d)
      s.conf.set("spark.sql.catalog.graft_jdbc",
        "org.apache.spark.sql.execution.datasources.v2.jdbc.JDBCTableCatalog")
      s.conf.set("spark.sql.catalog.graft_jdbc.url",
        graft.sources.JdbcStore.url(db))
      s.conf.set("spark.sql.catalog.graft_jdbc.driver",
        "org.apache.derby.jdbc.EmbeddedDriver")
      s.conf.set("spark.sql.catalog.graft_jdbc.pushDownAggregate", "true")
      val out = s.sql(
        """SELECT o_orderpriority,
          |  COUNT(*) AS n_orders,
          |  SUM(o_total_cents) AS sum_cents,
          |  MIN(o_total_cents) AS min_cents,
          |  MAX(o_total_cents) AS max_cents
          |FROM graft_jdbc.APP.ORDERS_WH
          |WHERE o_orderstatus = 'F'
          |GROUP BY o_orderpriority""".stripMargin)
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("PushedAggregates: [COUNT(*)"),
        s"aggregates must execute inside the warehouse, plan was:\n$plan")
      require(plan.contains("PushedGroupByExpressions: [o_orderpriority]"),
        s"group-by must push to the warehouse, plan was:\n$plan")
      require(plan.contains("o_orderstatus = 'F'"),
        s"status predicate must reach the warehouse WHERE, plan was:\n$plan")
      out.select(col("o_orderpriority"), col("n_orders"),
        (col("sum_cents").cast("double") / 100.0).as("sum_price"),
        (col("min_cents").cast("double") / 100.0).as("min_price"),
        (col("max_cents").cast("double") / 100.0).as("max_price"))
    }),

    // Streaming PARQUET file sink with its `_spark_metadata` manifest
    // — the exactly-once lake-landing contract (the file-sink twin of
    // q159's warehouse ledger): each micro-batch's files become
    // visible atomically via the manifest commit, and a reader that
    // honors the manifest sees ONLY committed files. Proven, not
    // claimed: after the stream finishes, an ORPHAN parquet file
    // (the debris a crashed task attempt leaves behind) is planted in
    // the output dir with poisoned ids — a plain directory-listing
    // read would include it and break the oracle hash; the manifest
    // read must ignore it. At 100 TB this is why a streaming landing
    // zone stays readable DURING ingestion without ever serving a
    // torn batch.
    "q165_stream_parquet_sink" -> ((s, d) => {
      import org.apache.spark.sql.streaming.Trigger
      val landing = stagedEventLanding(s, d)
      val out = Sinks.tmpPathFor("stream_pq_sink", d)
      val ckpt = Sinks.tmpPathFor("stream_pq_sink_ckpt", d)
      Sinks.deleteRecursively(out) // re-runnable: fresh sink + ckpt
      Sinks.deleteRecursively(ckpt)
      val q = s.readStream.schema(eventsWhSchema)
        .option("maxFilesPerTrigger", 1)
        .parquet(landing)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // plant crashed-task debris: a valid parquet file the manifest
      // never committed, with ids that would wreck the compare
      val orphanStage = Sinks.tmpPathFor("stream_pq_orphan", d)
      Sinks.deleteRecursively(orphanStage)
      s.read.schema(eventsWhSchema).parquet(landing).limit(7)
        .withColumn("event_id", col("event_id") + lit(900000000L))
        .coalesce(1).write.mode("overwrite").parquet(orphanStage)
      val part = new java.io.File(orphanStage).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.copy(part.toPath,
        java.nio.file.Paths.get(out,
          "part-00099-deadbeef-orphan-c000.snappy.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      val back = s.read.parquet(out)
      require(back.count() ==
        s.read.schema(eventsWhSchema).parquet(landing).count(),
        "manifest read must see exactly the committed rows, no orphans")
      back.select("event_id", "ts", "user_id", "event_type", "value",
        "props")
    }),

    // STATE-STORE INTROSPECTION — Spark 4's `statestore` data source
    // reads a checkpointed query's state as a TABLE: the ops surface
    // for auditing a production stream (is state growing? which keys
    // live? what does the aggregate hold RIGHT NOW?) without touching
    // the stream itself. The subject query is an unwatermarked
    // running count per event_type (update mode, sink discarded) —
    // chosen because its final state has a MICRO-BATCH-INVARIANT law:
    // whatever the file-arrival batching, the state must hold exactly
    // the whole-input groupBy counts, so the DuckDB oracle is the
    // plain aggregate. The read targets the LAST committed batch of
    // operator 0 and projects key/value struct fields; at deployment
    // scale it's the same partition-parallel scan over the RocksDB/
    // HDFS store files the stream itself uses — no replay, no stream
    // restart.
    "q167_state_reader" -> ((s, d) => {
      val landing = stagedEventLanding(s, d)
      val ckpt = Sinks.tmpPathFor("state_reader_ckpt", d)
      Sinks.deleteRecursively(ckpt) // re-runnable: fresh state history
      import org.apache.spark.sql.streaming.Trigger
      // state partitions sized to the input, not the core count
      graft.Tuning.withStreamShuffle(s, landing) {
        val q = s.readStream.schema(eventsWhSchema)
          .option("maxFilesPerTrigger", 1)
          .parquet(landing)
          .groupBy(col("event_type")).count()
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          // noop sink still MATERIALIZES every partition — an empty
          // foreachBatch body would skip the tasks whose state-store
          // commits the batch needs (commit validation rejects it)
          .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            b.write.mode("overwrite").format("noop").save()
          }
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      s.read.format("statestore").load(ckpt)
        .select(col("key.event_type").as("event_type"),
          col("value.count").as("n"))
    }),

    // DYNAMIC PARTITION PRUNING — the other half of q155's
    // planner-capability story: q155 proves stats pick the broadcast;
    // this proves the star-schema join PRUNES THE FACT SCAN AT
    // RUNTIME. The events fact is laid out partitioned by event_type;
    // the join keys on the partition column while the selective
    // filter sits on the DIM's attribute ('hot'), so static pruning
    // is impossible — only DPP (a dynamic-pruning subquery feeding
    // the scan's PartitionFilters from the broadcast dim) can skip
    // the cold partitions. require()d from the executed plan. At
    // 100 TB this is the difference between scanning a week and
    // scanning the whole lake when the filter lives on a dimension.
    "q171_dynamic_partition_pruning" -> ((s, d) => {
      val (path, dimPath) = stagedTypedEventLayout(s, d)
      // the dim must be a REAL scan: a literal LocalRelation would
      // constant-fold the 'hot' filter away, and DPP's selective-
      // predicate check (rightly) refuses a pruning side with no
      // surviving predicate
      val dim = s.read.parquet(dimPath)
      val out = s.read.parquet(path)
        .join(dim.filter(col("category") === "hot"), "event_type")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("_c"))
        .select(col("event_type"), col("n"),
          (col("_c").cast("double") / 100.0).as("sum_value"))
      val plan = out.queryExecution.executedPlan.toString
      require(plan.contains("dynamicpruning"),
        s"fact scan must carry a dynamic-pruning partition filter:\n$plan")
      out
    }),

    // RUNTIME BLOOM-FILTER JOIN PRUNING — the third leg of the
    // runtime-filtering trilogy (q155 stats-proven broadcast, q171
    // partition-level DPP, here ROW-level pruning on a NON-partition
    // key): when the join must shuffle (broadcast disabled — the
    // 100 TB case where neither side broadcasts), Catalyst builds a
    // Bloom filter from the dim's selective 'hot' rows and injects a
    // `might_contain` prefilter into the FACT scan side, dropping
    // non-joining rows BEFORE the exchange instead of shipping them.
    // require()d from the plan: the bloom probe present on the fact
    // side AND the join still a shuffle join. The false-positive rows
    // the Bloom admits are removed by the join itself — the filter
    // only reduces, never decides, so the oracle is the plain join.
    "q172_runtime_bloom_join" -> ((s, d) => {
      val (_, dimPath) = stagedTypedEventLayout(s, d)
      def out = Tables.events(s, d)
        .join(s.read.parquet(dimPath)
          .filter(col("category") === "hot"), "event_type")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_hot"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("_c"))
        .select(col("user_id"), col("n_hot"),
          (col("_c").cast("double") / 100.0).as("sum_value"))
      withConfs(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold"
          -> "10MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold"
          -> "0") {
        val plan = out.queryExecution.executedPlan.toString
        require(plan.contains("might_contain"),
          s"fact side must carry the runtime Bloom probe:\n$plan")
        require(plan.contains("SortMergeJoin") ||
          plan.contains("ShuffledHashJoin"),
          s"the subject is the SHUFFLE join's pruning:\n$plan")
        out.localCheckpoint() // materialize inside the conf window
      }
    }),

    // AQE SKEW-JOIN SPLIT — the fourth and final runtime-planning
    // proof (q155 stats broadcast, q171 DPP, q172 runtime Bloom, here
    // the RE-PLAN AFTER EXECUTION STARTS): 70% of the fact rides ONE
    // join key by law, so the shuffle's hot partition dwarfs the
    // median; AQE must observe the actual partition sizes at the
    // stage boundary and split the skewed partition across tasks
    // (replicating the matching build rows) — the `skew=true` marker
    // is require()d from the FINAL adaptive plan, which only exists
    // after execution (the assert runs post-materialization,
    // deliberately unlike the static-plan proofs). Thresholds are
    // scaled to the sf0.1 shuffle so the defaults' 256 MB bar does
    // not hide the behavior being proven; broadcast is disabled so
    // the join genuinely shuffles (the 100 TB shape).
    "q177_aqe_skew_join" -> ((s, d) => {
      // round-robin repartition gives the map stage the multi-task
      // shape a real multi-file fact scan has — a skewed REDUCE
      // partition is split along its MAP-side block boundaries, so a
      // single-mapper stage (one parquet row group at verify scale)
      // leaves AQE nothing to split by
      def keyed = Tables.events(s, d).repartition(8).select(
        when(pmod(col("user_id"), lit(10)) < 7, 0L)
          .otherwise(col("user_id")).as("k"),
        col("value"))
      // the dim is a STAGED scan: OptimizeSkewedJoin only matches an
      // SMJ whose children are sorts DIRECTLY over shuffle stages — a
      // distinct computed in the same plan leaves its final aggregate
      // between shuffle and sort and the rule (rightly) stands down
      val dimPath = stagedSkewDim(s, d)
      def out = keyed.join(s.read.parquet(dimPath), "k")
        .groupBy(col("attr"))
        .agg(count(lit(1)).as("n"),
          sum(expr("CAST(round(value * 100) AS BIGINT)")).as("_c"))
        .select(col("attr"), col("n"),
          (col("_c").cast("double") / 100.0).as("sum_value"))
      withConfs(s,
        "spark.sql.autoBroadcastJoinThreshold" -> "-1",
        "spark.sql.adaptive.skewJoin.enabled" -> "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
          -> "4096",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2048",
        "spark.sql.adaptive.coalescePartitions.enabled" -> "false") {
        val result = out
        val materialized = result.localCheckpoint()
        val plan = result.queryExecution.executedPlan.toString
        require(plan.contains("skew=true"),
          s"AQE must split the skewed partition at runtime:\n$plan")
        materialized
      }
    }),

    // RETENTION SWEEP (TTL) on the day-partitioned event layout — the
    // nightly job every lake runs: expire partitions older than the
    // retention horizon as a PURE METADATA operation (surviving
    // directories never opened, byte-identity spec-pinned in
    // LayoutSpec; the sweep costs O(expired partitions), zero data
    // IO). The expiry MUTATES its input, so each invocation sweeps a
    // FRESH hard-link copy of a per-JVM staged master layout (the
    // r11 bench lesson: rebuilding the 30-day layout in-query made
    // the recorded 0.85 s ~90% fixture write — the link copy is
    // O(files) metadata, so the bench now measures the sweep). The
    // in-query require pins the audit line — exactly the pre-horizon
    // days expired — and the oracle pins the surviving rows.
    "q179_retention_sweep" -> ((s, d) => {
      val path = Sinks.tmpPathFor("events_by_day", d)
      Sinks.deleteRecursively(path)
      Sinks.hardlinkTree(stagedRetentionLayout(s, d), path)
      val expired = Sinks.expirePartitions(path, "day", RetentionFrom)
      require(expired.forall(_ < RetentionFrom) &&
        expired == expired.sorted,
        s"sweep must expire exactly the pre-horizon days, got $expired")
      s.read.parquet(path)
        .select("event_id", "ts", "user_id", "event_type", "value",
          "props")
    }),

    // DESCRIBE HISTORY over the changelog — the lakehouse audit every
    // table format exposes (per-commit row counts, touched keys, the
    // date span each commit wrote): one partition-grouped aggregate
    // over the commit column, O(log) with map-side combine, commits
    // never joined. The oracle derives every line from the
    // generator's CLOSED FORM (stale = every 10th symbol, day 2 =
    // evens, day 3 = odds, 1,440 facts/symbol) — so a commit that
    // leaked rows into a neighbor, double-wrote, or dropped a pane
    // breaks the audit line exactly where an operator would look.
    // Extended (round 15) with OPERATION METADATA — the commitInfo
    // marker each verb records at land time: the VERB, the WRITER
    // identity, and the footer-derived row count. The oracle pins all
    // three against the closed form, so info_rows cross-checks the
    // footer metadata against the data-derived count line by line —
    // a torn commit or a mis-recorded marker breaks the audit exactly
    // where an operator would look.
    "q180_changelog_history" -> ((s, d) => {
      val path = stagedCdfLog(s, n(d))
      val data = s.read.parquet(path)
        .groupBy(col(Changelog.CommitCol).cast("int").as("commit"))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("stock")).as("n_stocks"),
          min(col("date")).as("first_date"),
          max(col("date")).as("last_date"))
      val hist = Changelog.describeHistory(s, path)
        .select(col("commit").cast("int").as("commit"), col("verb"),
          col("writer"), col("info_rows"))
      data.join(hist, Seq("commit"))
    }))

  /** q179's retention horizon — mid-span at every scale factor. */
  private val RetentionFrom = "2024-01-16"

  /** q179's day-partitioned master layout, staged once per JVM per
    * input dir; every invocation sweeps a fresh hard-link copy.
    */
  private val retentionStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedRetentionLayout(s: SparkSession, d: String): String =
    retentionStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("events_by_day_master", d)
      Sinks.deleteRecursively(path)
      Tables.events(s, d)
        .withColumn("day", to_date(col("ts")))
        .write.partitionBy("day").parquet(path)
      path
    })

  /** q177's skew-join dim: the distinct skew keys with an attribute,
    * staged to parquet once per JVM per input dir (see the in-query
    * note on why the dim must be a scan).
    */
  private val skewDimStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedSkewDim(s: SparkSession, d: String): String =
    skewDimStaged.getOrElseUpdate(d, {
      val path = Sinks.tmpPathFor("skew_dim", d)
      Sinks.deleteRecursively(path)
      Tables.events(s, d).select(
          when(pmod(col("user_id"), lit(10)) < 7, 0L)
            .otherwise(col("user_id")).as("k"))
        .distinct()
        .withColumn("attr", pmod(col("k"), lit(100)))
        .coalesce(1).write.parquet(path)
      path
    })

  /** The events fact laid out PARTITIONED BY event_type (the
    * time-series star-schema layout whose scans q171's DPP prunes),
    * staged once per JVM per input dir.
    */
  private val typedEventsStaged =
    scala.collection.concurrent.TrieMap[String, (String, String)]()
  private def stagedTypedEventLayout(s: SparkSession,
                                     d: String): (String, String) =
    typedEventsStaged.getOrElseUpdate(d, {
      import s.implicits._
      val path = Sinks.tmpPathFor("events_by_type", d)
      val dimPath = Sinks.tmpPathFor("events_type_dim", d)
      Sinks.deleteRecursively(path)
      Sinks.deleteRecursively(dimPath)
      Tables.events(s, d).write.partitionBy("event_type").parquet(path)
      Seq(("click", "hot"), ("error", "hot"), ("purchase", "cold"),
        ("signup", "cold"), ("view", "cold"))
        .toDF("event_type", "category")
        .coalesce(1).write.parquet(dimPath)
      (path, dimPath)
    })

  /** The orders warehouse table for q160, integer-cents money model,
    * staged ONCE per JVM per input dir (the subject is the pushed-down
    * read, not the load).
    */
  private val ordersWhStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedOrdersWarehouse(s: SparkSession, d: String): String =
    ordersWhStaged.getOrElseUpdate(d, {
      val db = Sinks.tmpPathFor("derby_orders_wh", d)
      graft.sources.JdbcStore.writeTable(
        Tables.orders(s, d).withColumn("o_total_cents",
          round(col("o_totalprice") * 100).cast("long")),
        db, "ORDERS_WH",
        columnTypes =
          Some("o_orderstatus VARCHAR(1), o_orderpriority VARCHAR(15)"))
      db
    })

  /** The streaming-read schema of the staged events landing dir. */
  private def eventsWhSchema = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType),
      StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** The events table staged as 4 mtime-ordered landing files (split
    * by event_id mod 4) — the arriving micro-batch feed for the JDBC
    * exactly-once sink. `ts` is normalized to TimestampType whatever
    * the generation's physical type (ns-int64 or µs, possibly NTZ —
    * session TZ is pinned UTC, so casts relabel the same instant).
    * Memoized per JVM per input dir.
    */
  private val eventLandingStaged =
    scala.collection.concurrent.TrieMap[String, String]()
  private def stagedEventLanding(s: SparkSession, d: String): String =
    eventLandingStaged.getOrElseUpdate(d, {
      import org.apache.spark.sql.types._
      val path = Sinks.tmpPathFor("jdbc_sink_landing", d)
      Sinks.deleteRecursively(path)
      val raw = s.read.parquet(s"$d/events.parquet")
      val ev = (raw.schema("ts").dataType match {
        case LongType => // nanos generation
          raw.withColumn("ts",
            timestamp_micros((col("ts") / 1000L).cast("long")))
        case _ => raw.withColumn("ts", col("ts").cast(TimestampType))
      }).select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"), col("props"))
      def files() = Option(new java.io.File(path).listFiles()).fold(
        Set.empty[java.io.File])(
        _.filter(_.getName.endsWith(".parquet")).toSet)
      var mtime = System.currentTimeMillis() - 6 * 2000L
      (0 until 4).foreach { i =>
        val before = files()
        ev.filter(pmod(col("event_id"), lit(4)) === i)
          .coalesce(1).write.mode("append").parquet(path)
        (files() -- before).foreach(_.setLastModified(mtime))
        mtime += 2000L
      }
      path
    })

  /** q57's lookup key — exists at every scale (symbolCount ≥ 10). */
  private val PointSymbol = "S00007"

  // ------------------------------------------------------------------
  // Oracles. N is inlined for the driver's verify scale (sf0.01) — the
  // Spark defs compute the same N from the sf dir at runtime.
  // ------------------------------------------------------------------

  private val VerifyN = RawZoneGen.symbolCount(0.01)

  /** The generator's date axis as a VALUES list (f = freq index, d =
    * date index within the freq — the oracle twin of RawZoneGen's pane
    * layout).
    */
  private val datesValues: String = {
    val y = RawZoneGen.YearlyDates.zipWithIndex.map { case (dt, d) =>
      s"(0, $d, DATE '${dt.take(10)}')"
    }
    val q = RawZoneGen.QuarterlyDates.zipWithIndex.map { case (dt, d) =>
      s"(1, $d, DATE '${dt.take(10)}')"
    }
    (y ++ q).mkString(",\n    ")
  }

  // Regenerate all 891,000 emitted rows (550 × 3 × 9 × 60) from the
  // leaf-value law, then apply the PK last-write-wins pane precedence
  // (quarterly beats yearly on the 2024-12-31 collision) → 792,000.
  // Shared by q38 (full recompute) and q54 (incremental maintenance):
  // the incremental path must CONVERGE to the full table.
  /** The regenerate-from-law fact SQL, restricted to the symbols
    * matching `symPred` (a predicate over the symbol index `i`) — the
    * parameterized form lets partial-universe snapshots (q129's
    * time-travel read) share the exact same law.
    */
  private def finUnpivotSqlWhere(symPred: String): String =
      s"""WITH syms AS (SELECT range AS i FROM range(0, $VerifyN) WHERE $symPred),
         |stmts(s, code) AS (VALUES (0, 'CF'), (1, 'IS'), (2, 'BS')),
         |dates(f, d, dt) AS (VALUES
         |    $datesValues),
         |mets AS (SELECT range AS m FROM range(0, ${RawZoneGen.MetricsPerStatement})),
         |rows_ AS (
         |  SELECT
         |    'S' || lpad(CAST(i AS VARCHAR), 5, '0') AS stock,
         |    'Synth Corp ' || CAST(i AS VARCHAR) AS yf_name,
         |    code AS statement_type,
         |    code || '_M' || lpad(CAST(m AS VARCHAR), 2, '0') AS metric,
         |    (LIST_VALUE('USD','EUR','JPY','GBP'))[CAST(i % 4 AS INT) + 1] AS stockcurrency,
         |    'USD' AS financialcurrency,
         |    CAST(year(dt) AS INT) AS calendar_year,
         |    CAST(CASE WHEN f = 0 THEN 4 ELSE quarter(dt) END AS INT) AS period,
         |    CASE WHEN (i*31 + s*17 + f*13 + d*7 + m*3) % 97 = 0 THEN NULL
         |         ELSE CAST((i*31 + s*17 + f*13 + d*7 + m*3) % 1000 AS DOUBLE)
         |            + CAST((i*31 + s*17 + f*13 + d*7 + m*3) % 7 AS DOUBLE) * 0.25
         |    END AS value,
         |    dt AS date,
         |    s*2 + f AS prec
         |  FROM syms, stmts, dates, mets)
         |SELECT stock, yf_name, statement_type, metric, stockcurrency,
         |  financialcurrency, calendar_year, period, value, date
         |FROM rows_
         |QUALIFY row_number() OVER (
         |  PARTITION BY stock, statement_type, metric, date
         |  ORDER BY prec DESC) = 1""".stripMargin

  private val finUnpivotSql = finUnpivotSqlWhere("TRUE")

  /** The STALE generation's fact law (RawZoneGen `leafValue(stale)`:
    * every 10th symbol, value (k mod 1000) + 0.75, never null), same
    * pane precedence — the AS OF 0 state of the q129/q168 changelog.
    */
  private val staleUnpivotSql: String =
      s"""SELECT stock, statement_type, metric, date, old_value FROM (
         |  SELECT
         |    'S' || lpad(CAST(i AS VARCHAR), 5, '0') AS stock,
         |    code AS statement_type,
         |    code || '_M' || lpad(CAST(m AS VARCHAR), 2, '0') AS metric,
         |    CAST((i*31 + s*17 + f*13 + d*7 + m*3) % 1000 AS DOUBLE) + 0.75
         |      AS old_value,
         |    dt AS date, s*2 + f AS prec
         |  FROM (SELECT range AS i FROM range(0, $VerifyN)
         |        WHERE range % 10 = 0) syms,
         |    (VALUES (0, 'CF'), (1, 'IS'), (2, 'BS')) stmts(s, code),
         |    (VALUES
         |    $datesValues) dates(f, d, dt),
         |    (SELECT range AS m
         |     FROM range(0, ${RawZoneGen.MetricsPerStatement})) mets)
         |QUALIFY row_number() OVER (
         |  PARTITION BY stock, statement_type, metric, date
         |  ORDER BY prec DESC) = 1""".stripMargin

  /** (stock, year) rollup over the regenerated fact table. */
  private val rollupSql =
      s"""WITH fact AS ($finUnpivotSql)
         |SELECT stock, calendar_year,
         |  CAST(count(*) AS BIGINT) AS n_facts,
         |  CASE WHEN count(value) = 0 THEN NULL
         |    ELSE CAST(sum(CAST(value * 4 AS BIGINT)) AS DOUBLE) / 4.0
         |  END AS sum_value
         |FROM fact GROUP BY 1, 2""".stripMargin

  val oracles: Map[String, String] = Map(

    "q38_fin_unpivot_sf" -> finUnpivotSql,
    "q54_incremental_fact" -> finUnpivotSql,

    // AS OF commit 1 = the fresh fact table restricted to even symbol
    // indices (day 2's universe; day 1's stale rows all replaced, day
    // 3's odd symbols not yet visible)
    "q129_time_travel" -> finUnpivotSqlWhere("range % 2 = 0"),

    // the feed = fresh state LEFT JOIN stale state on the PK, no-op
    // rows suppressed: stale (…+0.75) equals fresh exactly when
    // k ≡ 3 (mod 7) ∧ k ≢ 0 (mod 97) — those keys must vanish
    "q168_changelog_cdf" ->
      s"""WITH fact AS ($finUnpivotSql),
         |stale AS ($staleUnpivotSql)
         |SELECT f.stock, f.statement_type, f.metric, f.date,
         |  f.value AS new_value, s.old_value,
         |  CASE WHEN s.old_value IS NULL THEN 'insert' ELSE 'update' END
         |    AS change_type
         |FROM fact f LEFT JOIN stale s
         |  USING (stock, statement_type, metric, date)
         |WHERE s.old_value IS NULL
         |   OR s.old_value IS DISTINCT FROM f.value""".stripMargin,

    // checkpoint(1) then AS OF 2 = every day applied = the fresh table:
    // the fold must lose nothing, the vacuum only superseded state
    "q137_changelog_checkpoint" -> finUnpivotSql,

    // delete every 7th symbol → the law restricted to the survivors
    "q151_targeted_delete" -> finUnpivotSqlWhere("range % 7 <> 0"),

    // evolution: the flag rides exactly the keys whose latest version
    // is the day-3 (odd-symbol) delta; evens' day-2 versions null-fill
    "q143_changelog_evolution" ->
      s"""WITH fact AS ($finUnpivotSql)
         |SELECT fact.*,
         |  CASE WHEN CAST(substr(stock, 2) AS INTEGER) % 2 = 1
         |       THEN 'v2' END AS ingest_ver
         |FROM fact""".stripMargin,

    // the maintained rollup must be bit-identical to aggregating the
    // full recompute: integer partials (count, quarter-scaled sum), an
    // all-null group surfaces as NULL (the engine's nn disambiguator).
    // Shared by the batch IVM loop (q128) and its streaming twins
    // (q131 in-place, q134 changelog/MVCC) — every maintenance path
    // must converge to the same table.
    "q128_incremental_rollup" -> rollupSql,
    "q131_stream_ivm" -> rollupSql,
    "q134_stream_ivm_mvcc" -> rollupSql,

    // the fourth maintenance path: rollup(AS OF 0) + signed CDF
    // deltas must converge to the same full-recompute rollup
    "q169_cdf_maintenance" -> rollupSql,

    // the Derby round-trip must surface exactly the parquet rows the
    // pushed predicate selects — no loss, duplication, or precision
    // drift through DDL mapping + strided scans
    "q154_jdbc_roundtrip" ->
      "SELECT * FROM orders WHERE o_totalprice > 150000.0",

    // the exactly-once streamed warehouse must hold EXACTLY the events
    // table: a doubled batch (redelivery), a surviving poisoned stage
    // row, or µs drift through Derby's TIMESTAMP all break the hash
    "q159_jdbc_stream_sink" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events",

    // the warehouse-side aggregate must equal the parquet-side one
    // exactly — the integer-cents money model makes the SUM order-free
    // (Spark round() is HALF_UP, DuckDB round() half-away: identical
    // on positive prices; CAST of an integral double is exact in both)
    // a manifest-honoring read of the streamed lake landing must hold
    // exactly the events table — the planted orphan file's poisoned
    // ids break the hash if the reader ever falls back to dir listing
    "q165_stream_parquet_sink" ->
      "SELECT event_id, ts, user_id, event_type, value, props FROM events",

    // the state table's law is micro-batch-invariant: the running
    // aggregate's state equals the whole-input groupBy
    "q167_state_reader" ->
      "SELECT event_type, count(*) AS n FROM events GROUP BY 1",

    // only the hot dim rows' partitions contribute — cent-scaled
    // integer sum keeps the aggregate order-free cross-engine
    "q171_dynamic_partition_pruning" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value
        |FROM events WHERE event_type IN ('click', 'error')
        |GROUP BY 1""".stripMargin,

    // every audit line from the generator's closed form: stocks per
    // day-commit by parity/stale law, rows = stocks × (distinct pane
    // dates × 3 statements × M metrics), span = the date axis
    "q180_changelog_history" ->
      s"""WITH dates(f, dd, dt) AS (VALUES
         |    $datesValues),
         |b AS (SELECT min(dt) AS fd, max(dt) AS ld,
         |        count(DISTINCT dt) AS nd FROM dates),
         |n(commit, n_stocks) AS (
         |  SELECT 0, ($VerifyN + 9) // 10 UNION ALL
         |  SELECT 1, ($VerifyN + 1) // 2 UNION ALL
         |  SELECT 2, $VerifyN // 2)
         |SELECT CAST(n.commit AS INT) AS commit,
         |  CAST(n.n_stocks * b.nd * 3 * ${RawZoneGen.MetricsPerStatement}
         |    AS BIGINT) AS n_rows,
         |  CAST(n.n_stocks AS BIGINT) AS n_stocks,
         |  b.fd AS first_date, b.ld AS last_date,
         |  'append' AS verb, 'solo' AS writer,
         |  CAST(n.n_stocks * b.nd * 3 * ${RawZoneGen.MetricsPerStatement}
         |    AS BIGINT) AS info_rows
         |FROM n, b""".stripMargin,

    // survivors = rows at-or-after the horizon; an expired day's row
    // surviving (or a surviving day's file touched) breaks the hash
    "q179_retention_sweep" ->
      """SELECT event_id, ts, user_id, event_type, value, props
        |FROM events WHERE CAST(ts AS DATE) >= DATE '2024-01-16'""".stripMargin,

    // the split only re-partitions, never re-computes — the law is
    // the plain skew-keyed join aggregate
    "q177_aqe_skew_join" ->
      """WITH e AS (
        |  SELECT CASE WHEN user_id % 10 < 7 THEN 0 ELSE user_id END AS k,
        |    value
        |  FROM events),
        |d AS (SELECT DISTINCT k, k % 100 AS attr FROM e)
        |SELECT d.attr, count(*) AS n,
        |  CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value
        |FROM e JOIN d USING (k)
        |GROUP BY 1""".stripMargin,

    // the Bloom only reduces, never decides — the law is the plain
    // hot-type join aggregate per user
    "q172_runtime_bloom_join" ->
      """SELECT user_id, count(*) AS n_hot,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
        |    AS sum_value
        |FROM events WHERE event_type IN ('click', 'error')
        |GROUP BY 1""".stripMargin,

    "q160_jdbc_agg_pushdown" ->
      """SELECT o_orderpriority, count(*) AS n_orders,
        |  CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_price,
        |  CAST(min(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS min_price,
        |  CAST(max(CAST(round(o_totalprice * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS max_price
        |FROM orders WHERE o_orderstatus = 'F'
        |GROUP BY 1""".stripMargin,

    // per-year rollup of the symbols matching the dim's 3-conjunct
    // filter (sector ∧ currency ∧ industry ⇔ i % 140 = 0) — the join
    // itself is the subject (stats-proven broadcast); the values must
    // equal the regenerate-from-law fact restricted to those symbols
    "q155_stats_broadcast_join" ->
      s"""WITH fact AS (${finUnpivotSqlWhere("range % 140 = 0")})
         |SELECT calendar_year,
         |  CAST(count(*) AS BIGINT) AS n_facts,
         |  CASE WHEN count(value) = 0 THEN NULL
         |    ELSE CAST(sum(CAST(value * 4 AS BIGINT)) AS DOUBLE) / 4.0
         |  END AS sum_value
         |FROM fact GROUP BY 1""".stripMargin,

    // per-statement-per-year rollup THROUGH the catalog name: the DDL
    // registration + MSCK recovery is the subject — any partition the
    // repair missed (or double-registered) breaks n_facts against the
    // regenerate-from-law fact
    "q156_catalog_ddl" ->
      s"""WITH fact AS ($finUnpivotSql)
         |SELECT statement_type, calendar_year,
         |  CAST(count(*) AS BIGINT) AS n_facts,
         |  CASE WHEN count(value) = 0 THEN NULL
         |    ELSE CAST(sum(CAST(value * 4 AS BIGINT)) AS DOUBLE) / 4.0
         |  END AS sum_value
         |FROM fact GROUP BY 1, 2""".stripMargin,

    // top-10 point lookup over the same regenerated fact table; the
    // (date desc, statement_type, metric) order key is total within a
    // stock (PK minus stock), so the LIMIT is deterministic
    "q57_clustered_point" ->
      s"""WITH fact AS ($finUnpivotSql)
         |SELECT * FROM fact WHERE stock = 'S00007'
         |ORDER BY date DESC, statement_type, metric LIMIT 10""".stripMargin,

    // per-sector rollup over the regenerated fact table; sector law =
    // i % 5 into the generator's sector list, i recovered from the
    // stock symbol
    "q56_bucketed_join" ->
      s"""WITH fact AS ($finUnpivotSql)
         |SELECT (LIST_VALUE('Technology','Energy','Healthcare','Financials','Utilities'))
         |    [CAST(CAST(substr(stock, 2) AS INT) % 5 AS INT) + 1] AS sector,
         |  count(*) AS n_facts,
         |  CAST(sum(CAST(value * 4 AS BIGINT)) AS DOUBLE) / 4.0 AS sum_value
         |FROM fact GROUP BY 1""".stripMargin,

    // Regenerate the expected summary row per symbol: profile fields
    // straight from the generator law, city/state/country/founded/former
    // from what the F5–F7 regexes must extract out of the generated
    // business-summary sentence.
    "q39_summary_sf" ->
      s"""WITH syms AS (SELECT range AS i FROM range(0, $VerifyN))
         |SELECT
         |  'S' || lpad(CAST(i AS VARCHAR), 5, '0') AS stock,
         |  'Synth Corp ' || CAST(i AS VARCHAR) AS yf_name,
         |  'Synth Corp ' || CAST(i AS VARCHAR)
         |    || CASE WHEN i % 3 = 0
         |            THEN ', formerly known as Old Synth ' || CAST(i AS VARCHAR) || ','
         |            ELSE '' END
         |    || ' was founded in ' || CAST(1900 + i % 120 AS VARCHAR) || '.'
         |    || (LIST_VALUE(' It is headquartered in Austin, Texas, United States.',
         |                   ' It is headquartered in Paris, France.',
         |                   ' It is headquartered in Singapore.',
         |                   ''))[CAST(i % 4 AS INT) + 1] AS long_summary,
         |  (LIST_VALUE('Technology','Energy','Healthcare','Financials','Utilities'))[CAST(i % 5 AS INT) + 1] AS sector,
         |  'Industry ' || CAST(i % 7 AS VARCHAR) AS industry,
         |  'https://synth' || CAST(i AS VARCHAR) || '.example' AS website,
         |  CAST((i*37) % 90000 + 10 AS INT) AS employees,
         |  CASE CAST(i % 4 AS INT) WHEN 0 THEN 'Austin' WHEN 1 THEN 'Paris'
         |       WHEN 2 THEN 'Singapore' END AS city,
         |  CASE CAST(i % 4 AS INT) WHEN 0 THEN 'Texas' END AS state,
         |  CASE CAST(i % 4 AS INT) WHEN 0 THEN 'United States'
         |       WHEN 1 THEN 'France' END AS country,
         |  (LIST_VALUE('USD','EUR','JPY','GBP'))[CAST(i % 4 AS INT) + 1] AS currency,
         |  CAST(1900 + i % 120 AS INT) AS founded_year,
         |  CASE WHEN i % 3 = 0 THEN 'Old Synth ' || CAST(i AS VARCHAR) END AS former_name
         |FROM syms""".stripMargin,

    // connector-scan twin: profile fields straight from the generator
    // law (same fragments as the q39 oracle), loaded-at by parity
    "q67_connector_scan" ->
      s"""WITH syms AS (SELECT range AS i FROM range(0, $VerifyN))
         |SELECT
         |  'S' || lpad(CAST(i AS VARCHAR), 5, '0') AS symbol,
         |  (LIST_VALUE('USD','EUR','JPY','GBP'))[CAST(i % 4 AS INT) + 1] AS currency,
         |  CAST((i*37) % 90000 + 10 AS INT) AS employees,
         |  (LIST_VALUE('Technology','Energy','Healthcare','Financials','Utilities'))[CAST(i % 5 AS INT) + 1] AS sector,
         |  CASE WHEN i % 2 = 0 THEN TIMESTAMP '2025-08-15 00:00:00'
         |       ELSE TIMESTAMP '2025-08-16 00:00:00' END AS loaded_at
         |FROM syms""".stripMargin,

    // the pushdown-pruned slice of the q67 law: range [5, 17] minus
    // the two residual-filtered symbols (the require()s in the def
    // pin that the pruning happened scan-side; the oracle pins that
    // it pruned NOTHING it shouldn't have)
    "q187_connector_filter_pushdown" ->
      """WITH syms AS (SELECT range AS i FROM range(5, 18)
        |             WHERE range NOT IN (7, 11))
        |SELECT
        |  'S' || lpad(CAST(i AS VARCHAR), 5, '0') AS symbol,
        |  (LIST_VALUE('USD','EUR','JPY','GBP'))[CAST(i % 4 AS INT) + 1] AS currency,
        |  CAST((i*37) % 90000 + 10 AS INT) AS employees,
        |  (LIST_VALUE('Technology','Energy','Healthcare','Financials','Utilities'))[CAST(i % 5 AS INT) + 1] AS sector,
        |  CASE WHEN i % 2 = 0 THEN TIMESTAMP '2025-08-15 00:00:00'
        |       ELSE TIMESTAMP '2025-08-16 00:00:00' END AS loaded_at
        |FROM syms""".stripMargin,

    // the top-4-descending slice of the [5, 17] range under the
    // profile law (ids 17, 16, 15, 14) — the def's require()s pin
    // that the slice was planned scan-side; the oracle pins that it
    // dropped nothing it shouldn't have
    "q201_connector_limit_pushdown" ->
      """WITH syms AS (SELECT range AS i FROM range(14, 18))
        |SELECT
        |  'S' || lpad(CAST(i AS VARCHAR), 5, '0') AS symbol,
        |  (LIST_VALUE('USD','EUR','JPY','GBP'))[CAST(i % 4 AS INT) + 1] AS currency,
        |  CAST((i*37) % 90000 + 10 AS INT) AS employees,
        |  (LIST_VALUE('Technology','Energy','Healthcare','Financials','Utilities'))[CAST(i % 5 AS INT) + 1] AS sector,
        |  CASE WHEN i % 2 = 0 THEN TIMESTAMP '2025-08-15 00:00:00'
        |       ELSE TIMESTAMP '2025-08-16 00:00:00' END AS loaded_at
        |FROM syms""".stripMargin,

    // the pushed aggregate's answer over the same symbol law: 13
    // symbols in the range, boundary symbols as min/max
    "q195_connector_agg_pushdown" ->
      """SELECT CAST(count(*) AS BIGINT) AS n_symbols,
        |  min(symbol) AS first_symbol, max(symbol) AS last_symbol
        |FROM (SELECT 'S' || lpad(CAST(range AS VARCHAR), 5, '0') AS symbol
        |      FROM range(5, 18)) t""".stripMargin,

    "q40_upsert_roundtrip" ->
      """WITH g0 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice, CAST(0 AS BIGINT) AS gen
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |g1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice + 100000.0 AS o_totalprice,
        |    CAST(1 AS BIGINT) AS gen
        |  FROM orders WHERE o_orderkey % 3 = 0),
        |u AS (SELECT * FROM g0 UNION ALL SELECT * FROM g1)
        |SELECT o_orderkey, o_custkey, o_totalprice, gen
        |FROM u
        |QUALIFY row_number() OVER (PARTITION BY o_orderkey ORDER BY gen DESC) = 1""".stripMargin)
}
