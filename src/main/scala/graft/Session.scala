package graft

import org.apache.spark.sql.SparkSession

/** The one session factory every graft main starts Spark through, so
  * `Bench`, `Verify` (the oracle gate) and the dev tools all run the
  * posture the benchmark measures.
  *
  * Three environment settings of the driver contract are read here and
  * nowhere else:
  *  - `SPARK_GRAFT_CPUS`: local cores, every core of the host when unset;
  *  - `SPARK_GRAFT_SHUFFLE`: shuffle partitions, 8 when unset;
  *  - `SPARK_GRAFT_AQE`: adaptive execution, off when unset.
  * A cluster run flips the last two (`bench_cluster.json`: AQE on,
  * 2–3× the cores in partitions).
  */
object Session {
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The measured posture as SQL settings. At sub-GB local inputs AQE's
    * per-stage re-optimization barriers and wide shuffles are pure
    * overhead (measured: AQE on + 32 partitions costs ~60 % across the
    * suite). The file-split pair keeps one scan task per ~file of a
    * re-laid warehouse, where the defaults would bin-pack its small
    * files back into one partition. */
  val posture: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> sys.env.getOrElse("SPARK_GRAFT_AQE", "false"),
    "spark.sql.shuffle.partitions" -> sys.env.getOrElse("SPARK_GRAFT_SHUFFLE", "8"),
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "524288",
    "spark.sql.files.openCostInBytes" -> "262144")

  /** A local session on `cpus` cores in the measured posture, with every
    * graft SQL function installed and the UI off. */
  def local(appName: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .withExtensions(new GraftExtensions)
      .config(posture)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
