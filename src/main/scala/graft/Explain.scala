package graft

/** Dev utility: print the formatted physical plan of one named query
  * (or `entry`) so shuffle/pushdown/codegen shape can be audited.
  * Usage: runMain graft.Explain <queryName> [sfDir]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse("entry")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    // honor the bench's core-count env so plans can be audited at the
    // same parallelism the bench times (default stays 4)
    val spark = Session.local(Session.cpus(4))
    if (name == "all") {
      // one-line audit per query: exchanges, generators, broadcast vs
      // sort-merge joins, from_json count — and a hard flag on any
      // cartesian product (none may exist; every candidate step in the
      // library is an equi-join by design)
      var cartesians = 0
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (n, fn) =>
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
          def c(p: String) = p.r.findAllIn(plan).length
          val cart = c("CartesianProduct") + c("BroadcastNestedLoopJoin")
          if (c("CartesianProduct") > 0) cartesians += 1
          println(f"[explain] $n%-26s exchanges=${c("Exchange")}%2d " +
            f"bhj=${c("BroadcastHashJoin")}%2d smj=${c("SortMergeJoin")}%2d " +
            f"gen=${c("Generate")}%2d json=${c("from_json")}%2d nlj=$cart%2d" +
            (if (c("CartesianProduct") > 0) "  << CARTESIAN" else ""))
        } catch {
          case e: Throwable => println(s"[explain] $n FAILED: ${e.getMessage}")
        }
      }
      println(s"[explain] cartesian products across all plans: $cartesians")
    } else {
      // comma-separated names print one formatted plan per query in one
      // JVM (plan-capture batching for the optimization-round evidence)
      name.split(",").map(_.trim).filter(_.nonEmpty).foreach { n =>
        println(s"=== [explain] $n ===")
        val df =
          if (n == "entry") SparkEntry.entry(spark)
          else SparkEntry.queries(n)(spark, sfDir)
        df.explain("formatted")
        val plan = df.queryExecution.executedPlan.toString
        println(s"[explain] from_json occurrences: " +
          "from_json".r.findAllIn(plan).length)
      }
    }
    spark.stop()
  }
}
