package graft.tools

import graft.SparkEntry

/** Dev tool (r17/r18 optimization rounds): dump `.explain("formatted")`
  * for the named queries to `plans/<round>/<query>_<suffix>.txt`, under
  * the measured posture (`graft.Session`), so before/after
  * plan claims in OPTIMIZATION_r*.md are checkable files. Round dir via
  * SPARK_GRAFT_PLANS_DIR (default plans/r18).
  *
  * Usage: runMain graft.tools.DumpPlans <suffix> <query>...
  * Note: eager-checkpoint barriers execute during construction, so the
  * dumped plan is the VISIBLE post-checkpoint plan — the same surface
  * PlanSpec pins.
  */
object DumpPlans {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: DumpPlans <suffix> <query>...")
    val suffix = args.head
    val names = args.tail.toSeq
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.local("graft-dump-plans")
    spark.sparkContext.setLogLevel("ERROR")
    val out = new java.io.File(
      sys.env.getOrElse("SPARK_GRAFT_PLANS_DIR", "plans/r18"))
    out.mkdirs()
    names.foreach { n =>
      val plan = SparkEntry.queries(n)(spark, dir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        new java.io.File(out, s"${n}_$suffix.txt").toPath, plan)
      println(s"[plans] wrote ${n}_$suffix.txt (${plan.length} chars)")
    }
    spark.stop()
  }
}
