package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    // optional: query names to run (default all) — local iteration aid
    val only = args.drop(2).toSet
    val spark = Session.local(Session.cpus(4))
    Quiet.shutdownNoise()
    new java.io.File(outDir).mkdirs()
    // static-oracle scale guard (see ExtQueries.VerifyLshBits): probe
    // for the embeddings table (absent → nothing to guard), then fail
    // FAST on real drift — the affected queries would otherwise surface
    // it as an opaque hash mismatch. Skipped when the caller's `only`
    // filter selects none of the affected queries.
    val sigQueries = Set("q29_knn_lsh", "q30_embed_neardup",
      "q43_bucket_centroids", "q45_knn_ivf", "q74_lloyd_refine",
      "q244_semdedup", "q246_semdedup_clusters", "q249_pq_ivf_topk",
      "q256_sem_decontaminate")
    if (new java.io.File(s"$sfDir/embeddings.parquet").exists() &&
        (only.isEmpty || only.exists(sigQueries)))
      graft.ext.ExtQueries.assertVerifyScale(spark, sfDir)

    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only.contains(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    Quiet.stopNoise()
    spark.stop()
  }
}
