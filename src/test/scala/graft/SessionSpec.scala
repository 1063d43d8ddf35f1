package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every main starts Spark through `graft.Session`, so the posture the
  * benchmark measures is the one the oracle checks. */
class SessionSpec extends AnyFunSuite {

  test("source scan: SparkSession.builder only in Session.scala, and no " +
       "re-layout, warmup or DuckDB-hint switch under src/main/scala") {
    val root = new java.io.File("src/main/scala")
    assert(root.isDirectory, s"run from the project root: $root")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk)
      else Seq(f).filter(_.getName.endsWith(".scala"))
    val files = walk(root).map(f => f -> Files.readString(f.toPath))
    def code(src: String): String =
      src.replaceAll("(?s)/\\*.*?\\*/", "").replaceAll("//[^\n]*", "")
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
}
