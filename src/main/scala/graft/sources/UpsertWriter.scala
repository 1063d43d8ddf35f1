package graft.sources

import java.net.URI
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetToSparkSchemaConverter
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, lit, row_number}
import org.apache.spark.sql.types.StructType

/** Idempotent keyed upsert over a file-backed table — the Spark
  * re-expression of the reference's `INSERT ... ON CONFLICT (keys) DO
  * UPDATE` sinks (fastapi/app/etl/nasa.py:126-149,
  * transform/silver_clean.py:47-54,125-132). Last write wins per key,
  * arbitrated by explicit version columns (the reference's
  * `ingested_at` + insertion order; SURVEY §7.4-1 requires the total
  * order).
  *
  * Semantics: `upsert(run) ∘ upsert(run) == upsert(run)` — re-running
  * any window is a no-op (README.md:36), and late data for an
  * already-written key overwrites iff its version is newer.
  *
  * Publishing: the merge is written once, to a staging directory, and
  * then renamed into place — the whole table for [[upsert]], each
  * touched partition directory for [[upsertPartitioned]] and
  * [[publishPartitions]]. A rename moves the old version to a hidden
  * backup first; a crash between the two renames leaves only that
  * backup, and the next call on the store puts it back before it reads
  * (see [[swap]]). So each table or partition is either old or new,
  * never mixed or lost; a multi-partition publish is not atomic across
  * partitions. On a real deployment the table would be a transactional
  * format (Delta/Iceberg MERGE); rename is the strongest atomicity a
  * bare filesystem offers.
  *
  * Reads: every store read declares its schema ([[readStore]]), so
  * none runs a schema-inference job.
  */
object UpsertWriter {

  /** Pure merge: one row per key — the newest version among existing
    * and incoming rows (incoming wins version ties via the `is_new`
    * tiebreak, matching ON CONFLICT DO UPDATE). */
  def merge(existing: DataFrame, incoming: DataFrame,
            keys: Seq[String], versionCols: Seq[String]): DataFrame = {
    val tagged = existing.withColumn("is_new", lit(0))
      .unionByName(incoming.withColumn("is_new", lit(1)))
    val order = versionCols.map(col(_).desc) :+ col("is_new").desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    tagged.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "is_new")
  }

  /** The parquet store at `path` read with its declared `schema`
    * (partition columns included), so no inference job runs. The
    * footer of the store's first file is checked against the
    * declaration on the driver: a column missing from the files, an
    * undeclared one, or a different type throws here instead of
    * reading as nulls. */
  def readStore(spark: SparkSession, path: String, schema: StructType): DataFrame = {
    val df = spark.read.schema(schema).parquet(path)
    df.inputFiles.headOption.foreach { file =>
      val partitionCols = df.queryExecution.analyzed.collectFirst {
        case l: LogicalRelation if l.relation.isInstanceOf[HadoopFsRelation] =>
          l.relation.asInstanceOf[HadoopFsRelation].partitionSchema.fieldNames.toSet
      }.getOrElse(Set.empty[String])
      val conf = spark.sessionState.newHadoopConf()
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(file), conf))
      val onDisk = try new ParquetToSparkSchemaConverter(spark.sessionState.conf)
          .convert(reader.getFileMetaData.getSchema)
        finally reader.close()
      def cols(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
      val declared = cols(StructType(schema.filterNot(f => partitionCols(f.name))))
      if (cols(onDisk) != declared)
        throw new IllegalStateException(s"store $path: files hold " +
          s"${onDisk.toDDL}; declared ${schema.toDDL}")
    }
    df
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    FileSystem.get(new URI(path), spark.sparkContext.hadoopConfiguration)

  /** Where [[swap]] keeps the old version of `target` while it
    * publishes: a hidden sibling, which Spark's file listing skips. */
  private[graft] def backupOf(target: Path): Path =
    new Path(target.getParent, s".${target.getName}.bak")

  /** Crash recovery for `target`: a backup without its target is the
    * only copy of the old version — rename it back; a backup beside a
    * published target is stale — delete it. */
  private def restore(fs: FileSystem, target: Path): Unit = {
    val bak = backupOf(target)
    if (fs.exists(bak)) {
      if (fs.exists(target)) fs.delete(bak, true)
      else if (!fs.rename(bak, target))
        throw new java.io.IOException(s"cannot restore $bak to $target")
    }
  }

  /** [[restore]] for every partition directory of `table`. */
  private def restorePartitions(fs: FileSystem, table: Path): Unit =
    if (fs.exists(table))
      for (st <- fs.listStatus(table)) {
        val name = st.getPath.getName
        if (name.startsWith(".") && name.endsWith(".bak"))
          restore(fs, new Path(table, name.drop(1).dropRight(".bak".length)))
      }

  /** Publish the directory `staged` as `target` by rename: the old
    * version (if any) moves to its backup, `staged` moves in, the
    * backup is deleted. Hadoop rename signals failure by returning
    * false, not throwing — a failed forward rename puts the backup
    * back. */
  private def swap(fs: FileSystem, staged: Path, target: Path): Unit = {
    restore(fs, target)
    val bak = backupOf(target)
    if (fs.exists(target) && !fs.rename(target, bak))
      throw new java.io.IOException(s"cannot move $target aside")
    if (!fs.rename(staged, target)) {
      if (fs.exists(bak)) fs.rename(bak, target)
      throw new java.io.IOException(s"cannot publish $staged to $target")
    }
    fs.delete(bak, true)
  }

  private def stagingDir(path: String): Path =
    new Path(path + ".stage-" + UUID.randomUUID().toString.take(8))

  /** Merge `incoming` into the parquet table at `path` (created if
    * absent), swapping directories after the merged result is fully
    * materialized. The store's schema is `incoming`'s. Callers needing
    * the new row count read it from the published table (a parquet
    * `count()` is footer-metadata-only) — doing it here unconditionally
    * taxed every streaming micro-batch with an extra job (VERDICT r1). */
  def upsert(spark: SparkSession, path: String, incoming: DataFrame,
             keys: Seq[String], versionCols: Seq[String],
             checks: Seq[graft.schema.Schemas.Check] = Nil,
             table: String = "upsert-target"): Unit = {
    val fs = fileSystem(spark, path)
    val target = new Path(path)
    restore(fs, target)
    // Constraint gate at the write boundary (the engine-side stand-in
    // for the reference DDL's CHECKs): only the INCOMING slice is
    // validated — existing rows passed the gate when they were written.
    // The frame is persisted first so the validation aggregate and the
    // merge write share one computation of the incoming lineage
    // (matters per-micro-batch in the streaming path); enforce runs
    // INSIDE the try so a rejected batch still unpersists its cache.
    val guarded = if (checks.isEmpty) incoming else incoming.cache()
    try {
      if (checks.nonEmpty)
        graft.schema.Validator.enforce(guarded, checks, table)
      val merged =
        if (fs.exists(target))
          merge(readStore(spark, path, guarded.schema), guarded, keys, versionCols)
        else guarded
      val tmp = stagingDir(path)
      // materializes the merge BEFORE the old version is touched
      merged.write.mode("overwrite").parquet(tmp.toString)
      swap(fs, tmp, target)
      // the session's FileStatusCache still lists the replaced files —
      // without this, the next read of the store in the same session
      // throws FileNotFoundException on the deleted parts
      spark.catalog.refreshByPath(path)
    } finally if (checks.nonEmpty) guarded.unpersist()
  }

  /** Replace exactly the `partitionCol` partitions that `df` holds in
    * the partitioned parquet table at `path` (created if absent): one
    * write stages them, one file per partition, then each staged
    * partition directory is swapped in by rename. Partitions `df` does
    * not hold are neither read nor rewritten. */
  def publishPartitions(spark: SparkSession, df: DataFrame, path: String,
                        partitionCol: String): Unit = {
    val fs = fileSystem(spark, path)
    val table = new Path(path)
    restorePartitions(fs, table)
    val stage = stagingDir(path)
    df.repartition(col(partitionCol))
      .write.partitionBy(partitionCol).parquet(stage.toString)
    fs.mkdirs(table)
    for (st <- fs.listStatus(stage) if st.isDirectory)
      swap(fs, st.getPath, new Path(table, st.getPath.getName))
    fs.delete(stage, true)
    spark.catalog.refreshByPath(path)
  }

  /** Partition-pruned upsert: the store is laid out
    * `partitionBy(partitionCol)` with `incoming`'s schema, and only
    * partitions present in `incoming` are read, merged, and published
    * ([[publishPartitions]]). This is the shape that survives 100 TB —
    * a day's ingest merges a day's partitions, not the table. Returns
    * the touched partition values, so a caller that refreshes what
    * depends on them need not list them again. */
  def upsertPartitioned(spark: SparkSession, path: String,
                        incoming: DataFrame, keys: Seq[String],
                        versionCols: Seq[String],
                        partitionCol: String,
                        checks: Seq[graft.schema.Schemas.Check] = Nil,
                        table: String = "upsert-target"): Seq[Any] = {
    val fs = fileSystem(spark, path)
    val target = new Path(path)
    // the incoming lineage feeds the CHECK aggregate, the touched-
    // partition listing AND the merge — persist it once
    val guarded = incoming.cache()
    try {
      if (checks.nonEmpty)
        graft.schema.Validator.enforce(guarded, checks, table)
      val touched = guarded.select(partitionCol).distinct()
        .collect().map(_.get(0)).toSeq
      if (touched.nonEmpty) {
        restorePartitions(fs, target)
        val merged =
          if (!fs.exists(target)) guarded
          else merge(readStore(spark, path, guarded.schema)
              .filter(col(partitionCol).isin(touched: _*)),
            guarded, keys, versionCols)
        publishPartitions(spark, merged, path, partitionCol)
      } else fs.mkdirs(target)
      touched
    } finally { guarded.unpersist(); () }
  }
}
