package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** File index over an explicit, already-known file list — a table
  * snapshot's live files as its commit log names them (Delta Lake's
  * "read the snapshot from the log, never list storage").
  *
  * `spark.read.parquet(files: _*)` re-discovers what the log already
  * says: above `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * (32 paths) it lists the paths with a Spark job of one task per file,
  * and without a schema it runs a footer-inference job too. Here each
  * file costs one driver-side `getFileStatus` (for its length) and the
  * DataFrame is built with no job at all.
  *
  * Paths are qualified exactly as `InMemoryFileIndex` qualifies them, so
  * `_metadata.file_path` yields the same `file:/…` URIs, and `rootPaths`
  * / `inputFiles` are the files themselves. Equality is by file set, as
  * `InMemoryFileIndex`'s is by root-path set: two reads of one snapshot
  * produce `sameResult` plans (exchange reuse, `CacheManager` matching).
  * There is no partition schema — partition values live in the files.
  */
final class LogFileIndex private (files: Array[FileStatus]) extends FileIndex {

  override val rootPaths: Seq[Path] = files.map(_.getPath).toSeq

  private val pathSet: Set[Path] = rootPaths.toSet

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
    // empty files carry no footer; InMemoryFileIndex drops them too
    PartitionDirectory(InternalRow.empty, files.filter(_.getLen > 0)) :: Nil

  override def inputFiles: Array[String] = files.map(_.getPath.toString)

  /** The file list is immutable: a new snapshot is a new index. */
  override def refresh(): Unit = ()

  override val sizeInBytes: Long = files.map(_.getLen).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(other: Any): Boolean = other match {
    case o: LogFileIndex => pathSet == o.pathSet
    case _ => false
  }

  override def hashCode(): Int = pathSet.hashCode()
}

object LogFileIndex {

  /** A Parquet scan of exactly `files` (absolute local paths or URIs)
    * read with `schema` — the same relation `spark.read.schema(schema)
    * .parquet(files: _*)` resolves to, minus the listing. */
  def scan(spark: SparkSession, files: Seq[String], schema: StructType): DataFrame = {
    val conf = spark.sessionState.newHadoopConf()
    val statuses = files.map { f =>
      val p = new Path(f)
      val fs = p.getFileSystem(conf)
      fs.getFileStatus(fs.makeQualified(p))
    }
    val relation = HadoopFsRelation(
      new LogFileIndex(statuses.toArray),
      partitionSchema = new StructType(),
      dataSchema = schema.asNullable,
      bucketSpec = None,
      fileFormat = new ParquetFileFormat(),
      options = Map.empty)(spark)
    spark.baseRelationToDataFrame(relation)
  }
}
