package graft

/** Dev harness for chasing a single query without a full Bench sweep:
  * times each named catalog query 3× on the noop sink (full plan; the
  * query function's own eager work included, as in Bench) and prints
  * the samples and their median. Optionally prints the formatted
  * physical plan or dumps the result as parquet first (untimed).
  * Session conf comes from [[GraftSession]], the same as Bench's.
  *
  * Usage: runMain graft.Explain [--explain] [--dump=DIR] q3_join_agg[,q4_window] ...
  * Env: SPARK_GRAFT_SF_DIR (default sf0.1) plus GraftSession's knobs.
  */
object Explain {
  private val Runs = 3

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val showPlan = args.contains("--explain")
    val dumpDir = args.collectFirst {
      case a if a.startsWith("--dump=") => a.stripPrefix("--dump=") }
    val names = args.filterNot(_.startsWith("--")).flatMap(_.split(","))
    val spark = GraftSession.getOrCreate()
    GraftSession.warmUp(spark, sfDir)
    names.foreach { name =>
      SparkEntry.queries.get(name) match {
        case None => System.err.println(s"unknown query: $name")
        case Some(fn) =>
          if (showPlan || dumpDir.nonEmpty) {
            val df = fn(spark, sfDir)
            if (showPlan) { println(s"=== $name plan ==="); df.explain("formatted") }
            dumpDir.foreach(d =>
              df.coalesce(1).write.mode("overwrite").parquet(s"$d/$name"))
          }
          val ts = (1 to Runs).map { _ =>
            val t0 = System.nanoTime()
            fn(spark, sfDir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          println(f"=== $name: ${ts.map(t => f"$t%.3f").mkString(" ")} s," +
            f" median ${ts.sorted.apply(Runs / 2)}%.3f s")
      }
    }
    spark.stop()
  }
}
