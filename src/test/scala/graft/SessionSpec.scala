package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every main starts Spark through `graft.Session`, so the posture the
  * benchmark measures is the one the oracle checks. */
class SessionSpec extends AnyFunSuite {

  import SourceScan.{code, files}

  test("source scan: SparkSession.builder only in Session.scala, and no " +
       "re-layout, warmup or DuckDB-hint switch under src/main/scala") {
    val builders = files.collect {
      case (f, src) if code(src).contains("SparkSession.builder") &&
        !f.getPath.endsWith("graft/Session.scala") => f
    }
    assert(builders.isEmpty, "start Spark with graft.Session.local: " +
      builders.mkString(", "))
    val knobs = Seq("SPARK_GRAFT_PREP", "SPARK_GRAFT_WARM",
      "SPARK_GRAFT_DUCKDB_SUBSET_HINT")
    val switched = for {
      (f, src) <- files
      k <- knobs
      if src.contains(k)
    } yield s"$f: $k"
    assert(switched.isEmpty, "removed bench switches: " + switched.mkString(", "))
  }

  test("source scan: addSparkListener only in the receipts main under " +
       "src/main/scala") {
    val listeners = files.collect {
      case (f, src) if code(src).contains("addSparkListener") &&
        !f.getPath.endsWith("graft/tools/Receipts.scala") => f
    }
    assert(listeners.isEmpty, "count jobs with the receipts' one job " +
      "counter: " + listeners.mkString(", "))
  }
}
