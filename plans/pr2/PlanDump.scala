import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.FormattedMode

import graft.sources.Changelog
import graft.transform.Financials
import perfbench.{Deltas, Inputs, Main, Workloads}

/** Formatted physical plan of `Changelog.snapshotAt` on the benchmark's
  * plain `changelog` log (its 220-symbol fixture plus two seeded
  * commits, as the workload lands them) and on an ops log of the same
  * rows (upserts, then a delete commit). Compiled against the
  * benchmark's `app.jar`; see README.md.
  *
  *   PlanDump CACHE WORK OUT_DIR TAG   (writes snapshotAt_{plain,ops}_TAG.txt)
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
    def dump(name: String, df: DataFrame): Unit =
      Files.write(Paths.get(s"$outDir/snapshotAt_${name}_$tag.txt"),
        df.queryExecution.explainString(FormattedMode).getBytes(UTF_8))
    dump("plain", Changelog.snapshotAt(spark, plain, pk, 2L))
    dump("ops", Changelog.snapshotAt(spark, ops, pk, 3L))
    spark.stop()
  }
}
