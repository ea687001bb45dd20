package org.apache.spark.sql.graftbridge

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation,
  NoopCache, OutputWriterFactory, PartitionSpec, PartitioningAwareFileIndex}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Parquet data files named by a commit log instead of found by a
  * listing: the write side records what a write produced, the read
  * side builds a relation over exactly the recorded files with the
  * recorded schema. Spark's `MetadataLogFileIndex` (the file sink's
  * log) is the in-tree precedent for the read side.
  */
object CommitFiles {

  /** One written data file: `path` relative to the directory written,
    * its size and row count, and the min/max of its timestamp column in
    * epoch micros (`Long.MaxValue`/`Long.MinValue` when every value is
    * NULL). */
  final case class DataFile(path: String, bytes: Long, rows: Long, minTs: Long, maxTs: Long)

  /** Write `df` as parquet into the fresh directory `dir`, partitioned
    * by `partitionBy`, then read each written file's footer on the
    * driver (no job). Timestamps are written as INT64 micros
    * ([[MicrosParquetFormat]]) because INT96 columns carry no
    * statistics. The one listing is of `dir`, the write's own fresh
    * directory, once, right after the write. Files with no rows are
    * left out. */
  def write(df: DataFrame, dir: String, partitionBy: Seq[String], ts: String): Seq[DataFile] = {
    df.write.format(classOf[MicrosParquetFormat].getName).partitionBy(partitionBy: _*).save(dir)
    val conf = df.sparkSession.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val baseUri = fs.makeQualified(base).toUri
    val written = mutable.ArrayBuffer.empty[DataFile]
    val it = fs.listFiles(base, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (name.endsWith(".parquet") && !name.startsWith("_") && !name.startsWith(".")) {
        val (rows, lo, hi) = footer(st, conf, ts)
        if (rows > 0)
          written += DataFile(baseUri.relativize(st.getPath.toUri).getPath, st.getLen, rows, lo, hi)
      }
    }
    written.sortBy(_.path).toSeq
  }

  /** (rows, min ts, max ts) from one file's footer; throws when a row
    * group has no statistics for `ts`. */
  private def footer(st: FileStatus, conf: org.apache.hadoop.conf.Configuration,
      ts: String): (Long, Long, Long) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
    try {
      var (rows, lo, hi) = (0L, Long.MaxValue, Long.MinValue)
      reader.getFooter.getBlocks.asScala.foreach { b =>
        rows += b.getRowCount
        val stats = b.getColumns.asScala.find(_.getPath.toDotString == ts)
          .map(_.getStatistics).filter(s => s != null && !s.isEmpty)
          .getOrElse(throw new IllegalStateException(s"no '$ts' statistics in ${st.getPath}"))
        if (stats.hasNonNullValue) {
          lo = math.min(lo, stats.genericGetMin.asInstanceOf[java.lang.Long])
          hi = math.max(hi, stats.genericGetMax.asInstanceOf[java.lang.Long])
        }
      }
      (rows, lo, hi)
    } finally reader.close()
  }

  /** A DataFrame over exactly `files` (absolute path, bytes) read with
    * `schema`: no listing, no schema inference, no existence check. */
  def read(spark: SparkSession, files: Seq[(String, Long)], schema: StructType): DataFrame =
    if (files.isEmpty) spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
    else {
      val index = new RecordedFileIndex(spark,
        files.map { case (p, bytes) => new FileStatus(bytes, false, 0, 0, 0, new Path(p)) })
      val relation = HadoopFsRelation(index, new StructType(), schema, None,
        new ParquetFileFormat, Map.empty)(spark)
      ColumnBridge.ofRows(spark, LogicalRelation(relation))
    }
}

/** Parquet with timestamps written as INT64 micros whatever the
  * session's `spark.sql.parquet.outputTimestampType`, so every footer
  * has min/max statistics for them. Reads back as the same
  * TimestampType values. */
class MicrosParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(spark, job, options, dataSchema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key, "TIMESTAMP_MICROS")
    factory
  }
}

/** A file index over a fixed set of files with no partition columns:
  * each file is its own root path, so Spark's `allFiles` finds it in
  * `leafFiles` and never touches the file system. */
class RecordedFileIndex(spark: SparkSession, files: Seq[FileStatus])
    extends PartitioningAwareFileIndex(spark, Map.empty, None, NoopCache) {
  private val qualified: Seq[FileStatus] = files.map { f =>
    val p = f.getPath
    new FileStatus(f.getLen, false, 0, 0, 0, p.getFileSystem(hadoopConf).makeQualified(p))
  }
  override protected val leafFiles: mutable.LinkedHashMap[Path, FileStatus] =
    mutable.LinkedHashMap(qualified.map(f => f.getPath -> f): _*)
  override protected val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] = Map.empty
  override def rootPaths: Seq[Path] = qualified.map(_.getPath)
  override def refresh(): Unit = ()
  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec
}
