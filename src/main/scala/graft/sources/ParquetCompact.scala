package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Size-triggered compaction for append-grown parquet directories —
  * the streaming-index decay guard. Steady-state ingestion
  * ([[graft.operators.Dedup.appendToNearDupIndex]], the
  * [[graft.streaming.EventStream.ingestBatch]] admit loop) appends one small
  * parquet file set per micro-batch; at 100 TB cadence (thousands of
  * batches/day) the index directory degrades into a small-files swamp
  * whose LIST + open cost eventually dominates every probe. The fix is
  * the standard one (Delta/Iceberg OPTIMIZE, Hudi compaction): when
  * the part-file count passes a threshold, rewrite the directory
  * coalesced and swap it in.
  *
  * Assumes ONE writer at a time (the single streaming query that owns
  * the index — the same contract the appends already rely on).
  * Readers between batches see either the old or the new directory.
  * The swap is rename-based and NOT atomic: a crash between the two
  * renames leaves `<dir>` missing and `<dir>__compact_old` complete —
  * a LOUD failure on next read (no silent data loss), recovered by
  * renaming the `__compact_old` directory back. A leftover
  * `__compact_tmp`/`__compact_old` from a crashed run is cleaned up on
  * the next call before anything else happens.
  *
  * Every read of such a directory goes through [[open]], which takes
  * the schema from one part file's footer on the driver: the index is
  * re-read every micro-batch, and Spark's own schema inference would
  * start a job for it each time. */
object ParquetCompact {

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The entries of `p` a Spark scan reads: metadata/hidden names —
    * `_SUCCESS`, `.crc` — excluded, `k=v` partition dirs kept (Spark's
    * own listing rule), in path order. */
  private def visible(fs: FileSystem, p: Path): Array[FileStatus] =
    fs.listStatus(p).filter { s =>
      val n = s.getPath.getName
      !n.startsWith(".") && !(n.startsWith("_") && !n.contains("="))
    }.sortBy(_.getPath.toString)

  /** Parquet part-files directly under `dir`. 0 if the directory is
    * absent. */
  def dataFileCount(spark: SparkSession, dir: String): Int = {
    val fs = fsOf(spark, dir)
    val p = new Path(dir)
    if (!fs.exists(p)) 0 else visible(fs, p).count(_.isFile)
  }

  /** The Spark schema of the parquet directory `dir`, read on the
    * driver from ONE part file's footer — the first in path order,
    * inside the first partition dir for a `partitionBy` layout — by
    * Spark's own footer rule:
    * the `org.apache.spark.sql.parquet.row.metadata` schema a Spark
    * writer stores, else the parquet schema converted under the
    * session's parquet confs. Partition columns are not in it. Fails
    * naming `dir` when it is missing or holds no part file. */
  def schemaOf(spark: SparkSession, dir: String): StructType = {
    val fs = fsOf(spark, dir)
    def firstFile(p: Path): Option[FileStatus] = {
      val (dirs, files) = visible(fs, p).partition(_.isDirectory)
      files.headOption.orElse(dirs.iterator.flatMap(d => firstFile(d.getPath)).nextOption())
    }
    val file = Some(new Path(dir)).filter(fs.exists).flatMap(firstFile).getOrElse(
      throw new IllegalArgumentException(s"parquet dir $dir is missing or holds no part file"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** `dir` as a DataFrame with the schema [[schemaOf]] reads: the same
    * relation `spark.read.parquet(dir)` gives (partition discovery
    * still adds `k=v` columns), without its schema-inference job. */
  def open(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(schemaOf(spark, dir)).parquet(dir)

  /** Rewrite `dir` into `targetFiles` part-files iff it currently
    * holds more than `maxFiles`. Returns true when a rewrite happened.
    * `maxFiles <= 0` disables compaction (the caller's off switch).
    * The new files are fully written (tmp directory) BEFORE the old
    * directory is touched, so data exists on disk in one complete copy
    * at every step. */
  def compactIfNeeded(spark: SparkSession, dir: String,
      maxFiles: Int, targetFiles: Int = 8): Boolean = {
    require(targetFiles >= 1, s"targetFiles must be >= 1, got $targetFiles")
    if (maxFiles <= 0) return false
    val fs = fsOf(spark, dir)
    val tmp = new Path(dir + "__compact_tmp")
    val old = new Path(dir + "__compact_old")
    // a crashed previous run may have left either stage behind; the
    // old-dir case means the swap never completed and `dir` is the
    // missing half — restore it rather than compacting a ghost
    if (fs.exists(old)) {
      if (!fs.exists(new Path(dir))) fs.rename(old, new Path(dir))
      else fs.delete(old, true)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (dataFileCount(spark, dir) <= maxFiles) return false
    open(spark, dir)
      .coalesce(targetFiles)
      .write.mode("overwrite").parquet(tmp.toString)
    if (!fs.rename(new Path(dir), old))
      throw new java.io.IOException(s"compaction swap failed: cannot move $dir aside")
    if (!fs.rename(tmp, new Path(dir))) {
      // put the original back before failing — never leave `dir` absent
      fs.rename(old, new Path(dir))
      throw new java.io.IOException(s"compaction swap failed: cannot move $tmp into place")
    }
    fs.delete(old, true)
    true
  }
}
