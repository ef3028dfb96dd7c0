package graft.io

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Partitioned-table abstraction standing in for an Iceberg catalog (no
  * Iceberg runtime jar ships in this sandbox — SURVEY §7.1.8). A source
  * exposes a snapshot id (lineage for the checkpoint manifest), the
  * partition ids, and per-partition reads. The trait boundary makes the
  * swap to a real Iceberg `snapshot_id()`/`partitions` metadata-table
  * implementation mechanical.
  */
trait TableSource {
  def snapshotId: String
  /** Lineage at the PARTITION grain: an append or rewrite must only
    * invalidate the partitions it touched, not force re-validation of the
    * whole table (Iceberg tracks data files per partition the same way).
    * Default = table-level snapshot for sources without partition
    * metadata. */
  def partitionSnapshotId(p: Int): String = snapshotId
  def partitionIds(): Seq[Int]
  /** Read one partition. MUST prune at the scan (partition directory /
    * file-level), never filter a full-table scan. */
  def readPartition(p: Int): DataFrame
  /** Full-table read (all partitions). */
  def read(): DataFrame
}

/** Parquet directory partitioned by an explicit `partition_id=N`
  * subdirectory (hive-style), emulating Iceberg identity/bucket
  * partitioning. Partition pruning comes free from the directory layout:
  * `readPartition` opens only that subdirectory.
  *
  * All listing and digesting goes through the Hadoop `FileSystem` API
  * resolved from the path's scheme, so the same code serves `file:`,
  * `hdfs://`, and `s3a://` roots — where a 100-TB table actually lives.
  * A missing or partition-less root RAISES from `partitionIds()` rather
  * than silently validating nothing (a typo'd `--table` must not print a
  * zero-row success).
  */
class ParquetPartitionedSource(spark: SparkSession, root: String) extends TableSource {

  private val rootPath = new Path(root)
  // FileSystem.get-style caching is handled by Hadoop itself (FS cache is
  // keyed on scheme+authority+conf), so resolving per call is cheap.
  private def fs: FileSystem = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** List a directory's immediate children; `Nil` if the path does not
    * exist. Other IO errors (permission, transient object-store faults)
    * propagate — "unreadable" must not alias "empty". */
  private def listOrEmpty(p: Path): Seq[FileStatus] =
    try fs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Nil }

  /** Snapshot id = stable digest, over every file under `dir` that Spark's
    * reader would read (any depth; path components starting with `_` or
    * `.` are skipped as Spark skips them, `_`-prefixed `k=v` partition
    * directories excepted), of each file's path relative to the table
    * root, size, mtime and edge-block content digest
    * ([[Digests.fileContentDigest]]). The content digest catches a rewrite
    * that keeps length AND mtime (coarse-granularity filesystems,
    * object-store copies with preserved timestamps): a false "already
    * validated" is strictly worse than the false re-validation an
    * mtime-only touch causes. A directory deleted while it is listed
    * (TOCTOU under concurrent maintenance) degrades to the empty-listing
    * digest — it compares unequal to any recorded id with data, forcing
    * re-validation, the safe direction. (A real Iceberg catalog supplies
    * real snapshot ids; this is the stand-in.) */
  private def fingerprint(dir: Path): String = {
    val base = fs.makeQualified(rootPath).toUri.getPath.stripSuffix("/")
    def hidden(name: String) = (name.startsWith("_") && !name.contains("=")) || name.startsWith(".")
    val files = try {
      val it = fs.listFiles(dir, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next()).toList
    } catch { case _: java.io.FileNotFoundException => Nil }
    graft.io.Digests.sha8(files
      .map(st => st.getPath.toUri.getPath.stripPrefix(base).stripPrefix("/") -> st)
      .filterNot { case (rel, _) => rel.split('/').exists(hidden) }
      .map { case (rel, st) =>
        s"$rel:${st.getLen}:${st.getModificationTime}:${graft.io.Digests.fileContentDigest(fs, st)}"
      }
      .sorted.mkString("\n"))
  }

  override def snapshotId: String = {
    require(fs.exists(rootPath),
      s"table root does not exist: $root — check the --table path")
    fingerprint(rootPath)
  }

  /** Partition-grain lineage: only this partition's files participate, so
    * appends/rewrites elsewhere don't invalidate it. */
  override def partitionSnapshotId(p: Int): String =
    fingerprint(new Path(rootPath, s"partition_id=$p"))

  override def partitionIds(): Seq[Int] = {
    require(fs.exists(rootPath),
      s"table root does not exist: $root — check the --table path")
    val ids = listOrEmpty(rootPath)
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("partition_id="))
      .map { st =>
        // fail with an ACTIONABLE message, not a NumberFormatException: a
        // null partition_id write lands in __HIVE_DEFAULT_PARTITION__, and
        // silently skipping it would leave rows unvalidated
        val name = st.getPath.getName
        name.stripPrefix("partition_id=").toIntOption.getOrElse(
          throw new IllegalArgumentException(
            s"non-numeric partition directory '$name' under $root " +
              "(null partition_id rows land in __HIVE_DEFAULT_PARTITION__) — " +
              "clean or re-partition the table before validating"))
      }
      .sorted
    require(ids.nonEmpty,
      s"no partition_id=N directories under $root — the resumable runner " +
        "would silently validate nothing; check the --table path or write " +
        "the table via ParquetPartitionedSource.write")
    ids
  }

  override def readPartition(p: Int): DataFrame = {
    val dir = new Path(rootPath, s"partition_id=$p")
    val hasData = listOrEmpty(dir).exists(_.getPath.getName.endsWith(".parquet"))
    if (hasData)
      spark.read.parquet(dir.toString).withColumn("partition_id", lit(p))
    else
      // a partition directory emptied by maintenance still lists as a
      // partition: borrow the table schema and prune to the (empty) dir
      // instead of crashing schema inference on zero files
      read().where(col("partition_id") === p)
  }

  override def read(): DataFrame =
    spark.read.option("basePath", root).parquet(root)
}

object ParquetPartitionedSource {
  /** Write a DataFrame carrying `partition_id` as a hive-partitioned
    * parquet table. Repartitions by partition_id first so each hive
    * directory gets O(1) files instead of one per upstream task
    * (small-file avalanche at scale). */
  def write(df: DataFrame, root: String): Unit =
    df.repartition(col("partition_id"))
      .write.mode("overwrite").partitionBy("partition_id").parquet(root)
}
