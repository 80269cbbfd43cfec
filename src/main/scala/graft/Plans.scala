package graft

/** Plan-inspection utility: prints the formatted physical plan of selected
  * catalog queries, for scale review (pushdown / pruning / join strategy /
  * codegen spans). Not part of the driver contract.
  *
  * With `--run` as the first argument, each query is EXECUTED (noop sink,
  * same as Bench) before printing, so the plan shown is the post-AQE final
  * plan, and a warm second run is timed — the steady-state number to audit
  * against BENCH_r*.json readings (see PERF_NOTES.md for method). */
object Plans {
  def main(args: Array[String]): Unit = {
    val run = args.headOption.contains("--run")
    val rest = if (run) args.drop(1) else args
    val sfDir = if (rest.nonEmpty) rest(0) else "/root/testdata/sf0.01"
    val names = rest.drop(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", if (run) "32" else "4")
    val spark = GraftSession.create(master = Some(s"local[$cpus]"),
      shufflePartitions = Some(cpus.toInt))
    spark.sparkContext.setLogLevel("ERROR")
    val qs = SparkEntry.queries
    val selected = if (names.nonEmpty) names.toSeq else qs.keys.toSeq.sorted
    selected.foreach { n =>
      println(s"\n========== $n ==========")
      try {
        val df = qs(n)(spark, sfDir)
        if (run) df.write.format("noop").mode("overwrite").save()
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        if (run) {
          val t0 = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          println(f"warm run: ${(System.nanoTime() - t0) / 1e9}%.3f s")
        }
      }
      catch { case e: Throwable => println(s"(failed: ${e.getMessage})") }
    }
    spark.stop()
  }
}
