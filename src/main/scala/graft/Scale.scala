package graft

import org.apache.spark.sql.functions._

/** Scale-evidence harness (dev aid, not driver contract): run the
  * flagship G1 chain — generate → layout-write raw zone → normalize
  * (parse + 6-pane explode + PK dedup) → layout-write fact → read —
  * at an arbitrary symbol count and report stage wall-clock plus the
  * row-count law check (n × 1,440 PK rows). Default 55,000 symbols =
  * sf1.0 ≈ 10× the reference universe → 79.2M fact rows, the direct
  * would-it-survive-a-10×-scale-up probe for the numbers recorded in
  * BENCH at sf0.1.
  */
object Scale {
  def main(args: Array[String]): Unit = {
    val n = args.headOption.map(_.toInt).getOrElse(55000)
    val spark = Session.local(Session.cpus(32))

    import graft.ingest.RawZoneGen
    import graft.sources.Sinks
    import graft.transform.Financials

    def timed[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[scale] $name%-24s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    // a broken row-count law fails the run, never just prints
    def law(ok: Boolean, what: String): Unit = {
      require(ok, s"[scale] $what MISMATCH")
      println(s"[scale] $what OK")
    }

    val rawPath = Sinks.tmpPath(s"scale_raw_$n")
    val factPath = Sinks.tmpPath(s"scale_fact_$n")
    // bucket count scales with the table: a delta's upsert cost is
    // delta_keys × history/buckets, so buckets must grow with history
    // for O(delta) to hold (≈ one bucket per file-sized chunk; 512 at
    // 79M rows ≈ 150k rows/bucket)
    val buckets = 512
    timed(s"writeRawZone n=$n") {
      Sinks.writeRawZone(RawZoneGen.payloads(spark, n), rawPath)
    }
    val raw = spark.read.parquet(rawPath)
    timed("normalize+writeFact") {
      Financials.normalizeInto(raw, factPath, buckets) // fused: one exchange
    }
    val fact = spark.read.parquet(factPath)
    val rows = timed("count fact")(fact.count())
    val expect = n.toLong * 1440L
    law(rows == expect, s"fact rows $rows expect $expect")
    // the reference's own verify query on the produced table — against
    // the bucket-partitioned layout this partition-prunes to one dir
    timed("latestFacts point query") {
      // bucket count read from the layout's sidecar, not hand-passed
      Financials.latestFactsAt(spark, factPath, f"S${n / 2}%05d")
        .collect(): Unit
    }
    // O(delta) incremental maintenance at scale: a 100-symbol daily
    // delta against the n-symbol history must cost a small constant,
    // not a fraction of the full build above. The delta lands as
    // parquet first (like any real raw-zone day — and the live
    // generator's 1,620-leaf expression tree inlined into the merge
    // plan is exactly the codegen-blowup shape a library should not
    // exercise).
    val deltaSyms = 100
    val deltaRaw = Sinks.tmpPath(s"scale_delta_$n")
    // stale generation included — normalize's latest-per-symbol dedup
    // drops it, same as the main build
    Sinks.writeRawZone(RawZoneGen.payloads(spark, deltaSyms), deltaRaw)
    val delta = Financials.normalize(spark.read.parquet(deltaRaw))
      .withColumn("value", col("value") + lit(1.0))
    // the key universe is known a priori (a real daily job knows its
    // fetch list) — the probe costs nothing
    val deltaKeys = spark.range(deltaSyms)
      .select(concat(lit("S"), lpad(col("id").cast("string"), 5, "0")).as("stock"))
    timed(s"upsert $deltaSyms-symbol delta") {
      Sinks.upsertFactDelta(spark, factPath, delta, buckets,
        deltaStocks = Some(deltaKeys))
    }
    val after = timed("count after upsert")(spark.read.parquet(factPath).count())
    law(after == expect, s"rows after delta $after expect $expect")

    // Join-skew evidence: one planted mega-key owning HALF the fact
    // table versus a uniform dimension. The plain shuffle join sends
    // every mega-key row to ONE task (16× the average task here — and
    // below AQE's 256 MB skew-split threshold, so OptimizeSkewedJoin
    // does NOT rescue it); Skew.saltedJoin spreads it over the salt
    // buckets. Same output rows — q63's oracle asserts that equality.
    // Measured at 28.8M rows / local[32]: the straggler costs ~1 s on a
    // ~7 s scan-dominated job (salted 7.0 s vs plain 7.9 s) — modest
    // locally because every "task" shares one machine's memory
    // bandwidth, but it is the per-TASK imbalance that defines
    // wall-clock on a real cluster, where the mega-key task would pin
    // one executor for 16× the stage time while 999 idle.
    // (Broadcast is disabled so the demonstration exercises the
    // SHUFFLE join path that a TB-sized dimension would force.)
    // fresh read: the delta upsert above replaced files of the touched
    // buckets, so the pre-upsert frame's file index is stale
    val factNow = spark.read.parquet(factPath)
    val skewed = factNow.select(
      when(pmod(hash(col("stock")), lit(2)) === 0, lit("MEGA"))
        .otherwise(col("stock")).as("k"),
      col("value"))
    val dim = spark.range(n.toLong + 1).select(
      concat(lit("S"), lpad(col("id").cast("string"), 5, "0")).as("k"),
      (col("id") % 7).as("grp"))
      .union(spark.range(1).select(lit("MEGA").as("k"), lit(9L).as("grp")))
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val plainN = timed("skew join PLAIN") {
        skewed.join(dim, "k").groupBy("grp").count().collect().map(_.getLong(1)).sum
      }
      val saltedN = timed("skew join SALTED") {
        graft.ext.Skew.saltedJoin(skewed, dim, "k", "value", 32, 1000000L)
          .groupBy("grp").count().collect().map(_.getLong(1)).sum
      }
      law(plainN == saltedN, s"skew join rows plain=$plainN salted=$saltedN")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)

    // Snapshot-diff evidence at table scale: reconcile the full fact
    // table against a mutated twin (one symbol deleted, one symbol's
    // values bumped — the post-backfill audit shape). The "new
    // snapshot" is a derived frame over the same files, so the timing
    // measures the diff's ONE full-outer sort-merge join over
    // 2×79.2M rows, not a second table build. Output must be exactly
    // the 2×1,440 touched PK rows — proportional to the change, never
    // the table.
    val delStock = f"S${1}%05d"
    val chgStock = f"S${2}%05d"
    val newSnap = factNow.filter(col("stock") =!= delStock)
      .withColumn("value",
        when(col("stock") === chgStock, col("value") + lit(1.0))
          .otherwise(col("value")))
    // expected = the deleted symbol's rows + the bumped symbol's
    // NON-NULL rows: null+1.0 is null, and the diff's null-safe
    // compare correctly reports a null→null cell as unchanged (the
    // generator nulls ~0.5% of values — the P8 NaN→null law)
    val expectDiff = 1440L + factNow
      .filter(col("stock") === chgStock && col("value").isNotNull).count()
    val diffRows = timed("snapshot diff full fact") {
      graft.ext.Diff.snapshotDiff(factNow, newSnap,
        Financials.Pk, Seq("value")).count()
    }
    law(diffRows == expectDiff, s"diff rows $diffRows expect $expectDiff")
    spark.stop()
  }
}
