package graft.tools

/** Dev utility: time one driver-contract query (or a comma-separated
  * list — r17: amortizes JVM start across an iteration loop) for a few
  * passes under the bench posture — for the sink/publish queries Bench
  * excludes (q34/q35/q38/q68) and for one-off plan iteration without a
  * full bench run.
  * Usage: runMain graft.tools.TimeQuery <name>[,<name>...] [sfDir] [passes]. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(',').toSeq
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val passes = if (args.length > 2) args(2).toInt else 3
    val spark = graft.Session.local("graft-time-query")
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect() // codegen warmup
    val best = scala.collection.mutable.Map.empty[String, Double]
    (1 to passes).foreach { p =>
      names.foreach { name =>
        val fn = graft.SparkEntry.queries(name)
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        val dt = (System.nanoTime() - t0) / 1e9
        best(name) = best.get(name).fold(dt)(_ min dt)
        println(f"[time] $name pass $p: $dt%.2f s ($n rows)")
      }
    }
    names.foreach(n => println(f"[time] BEST $n: ${best(n)}%.2f s"))
    spark.stop()
  }
}
