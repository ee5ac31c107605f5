import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.util.QueryExecutionListener

import graft.sources.Changelog
import graft.transform.Financials
import perfbench.{Deltas, Inputs, Main, Workloads}

/** Formatted physical plans of the changelog fold on the benchmark's
  * plain `changelog` log (its 220-symbol fixture plus two seeded
  * commits, as the workload lands them) and on an ops log of the same
  * rows (upserts, then a delete commit): `snapshotAt` of each, not
  * executed, then `checkpoint` of each, whose first write (the fold
  * into the staging directory) is captured after it ran. Compiled
  * against the benchmark's `app.jar`; see README.md.
  *
  *   PlanDump CACHE WORK OUT_DIR TAG
  *     writes {snapshotAt,checkpoint}_{plain,ops}_TAG.txt
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val Array(cache, work, outDir, tag) = args
    val spark = Main.session(trace = false, work)
    spark.sparkContext.setLogLevel("WARN")
    val pk = Financials.Pk
    val plain = Inputs.copyOf(Workloads.logFixture(spark, cache), s"$work/log")
    val base = spark.read.parquet(plain).drop(Changelog.CommitCol).localCheckpoint()
    val deltas = new Deltas(1L, Workloads.MaintSymbols, Workloads.DeltaSymbols)
    val ops = s"$work/ops_log"
    Changelog.commitUpsert(base, ops, 0L)
    for (j <- 1 to 2) {
      val d = Inputs.delta(base, deltas(j), j)
      Changelog.commit(d, plain, j.toLong)
      Changelog.commitUpsert(d, ops, j.toLong)
    }
    Changelog.commitDelete(spark,
      base.filter(col("stock").isin(deltas(3): _*)).select(pk.map(col): _*),
      ops, 3L)
    def write(file: String, qe: QueryExecution): Unit =
      Files.write(Paths.get(s"$outDir/${file}_$tag.txt"),
        qe.explainString(FormattedMode).getBytes(UTF_8))
    def dump(name: String, df: DataFrame): Unit =
      write(s"snapshotAt_$name", df.queryExecution)
    dump("plain", Changelog.snapshotAt(spark, plain, pk, 2L))
    dump("ops", Changelog.snapshotAt(spark, ops, pk, 3L))

    // a checkpoint's fold is its first write into its staging dir;
    // listener events arrive asynchronously, in order
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]
    spark.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        seen.add(qe)
      def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    })
    for ((name, path, v) <- Seq(("plain", plain, 1L), ("ops", ops, 2L))) {
      Changelog.checkpoint(spark, path, pk, v)
      def fold = seen.toArray(Array.empty[QueryExecution]).find(
        _.analyzed.toString.contains(s"__ckpt_staging_v$v"))
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (fold.isEmpty && System.nanoTime() < deadline) Thread.sleep(50)
      write(s"checkpoint_$name", fold.getOrElse(
        sys.error(s"no fold write seen for checkpoint_$name")))
    }
    spark.stop()
  }
}
