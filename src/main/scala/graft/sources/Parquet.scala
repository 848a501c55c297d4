package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.execution.streaming.sinks.{FileStreamSink, FileStreamSinkLog}
import org.apache.spark.sql.types.StructType

/** graft's one parquet reader. `spark.read.parquet` infers the data
  * schema with a Spark job (one task per footer it touches), and every
  * query build that reads a table paid that job as a serial driver
  * round trip before its plan existed. This reader reads ONE footer on
  * the driver instead and hands the schema to `DataFrameReader.schema`,
  * so a lazy plan is built without running anything.
  *
  * The schema is Spark's own: the footer goes through
  * `ParquetFileFormat.readSchemaFromFooter` with a converter built from
  * the session's SQLConf, the function Spark's inference applies to the
  * footer it picks — so `nanosAsLong` and the other parquet read confs
  * act unchanged, and a Spark-written file's stored row schema (field
  * metadata included) wins over the physical one. Spark reads one
  * footer too when `mergeSchema` is off, so a table whose files
  * disagree was already read under one file's schema.
  *
  * The footer file:
  *  - a file-sink directory (`_spark_metadata`): the first file its
  *    sink log lists — the log, not the directory, is what Spark reads;
  *  - otherwise the first path, walked depth first in name order,
  *    skipping the names Spark's listing skips, to its first data file
  *    (an explicit file list thus uses its first file).
  * Partition columns (`dt=`, `cell=`) stay discovered from the paths,
  * as without a schema. A glob, a missing path or a directory with no
  * data file reads through plain `spark.read.parquet`, so the caller
  * sees Spark's own error (an `AnalysisException`).
  */
object Parquet {

  def read(spark: SparkSession, paths: String*): DataFrame =
    load(spark, None, paths)

  /** [[read]] with Spark's `basePath` option: partition columns are
    * discovered below `basePath` even when `paths` name files.
    */
  def readUnder(spark: SparkSession, basePath: String, paths: String*): DataFrame =
    load(spark, Some(basePath), paths)

  private def load(spark: SparkSession, basePath: Option[String],
                   paths: Seq[String]): DataFrame = {
    val reader = basePath.fold(spark.read)(spark.read.option("basePath", _))
    footerSchema(spark, paths).fold(reader)(reader.schema).parquet(paths: _*)
  }

  /** The schema Spark would infer for `paths`, from one footer read on
    * the driver; None where Spark must speak for itself.
    */
  private def footerSchema(spark: SparkSession,
                           paths: Seq[String]): Option[StructType] = {
    if (paths.isEmpty || paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val file =
        if (FileStreamSink.hasMetadata(paths, conf, spark.sessionState.conf))
          sinkFile(spark, conf, new Path(paths.head))
        else {
          val p = new Path(paths.head)
          val fs = p.getFileSystem(conf)
          if (fs.exists(p)) firstDataFile(fs, p) else None
        }
      file.map { f =>
        val meta = ParquetFooterReader.readFooter(HadoopInputFile.fromPath(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f, meta),
          new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      }
    }
  }

  private def sinkFile(spark: SparkSession, conf: Configuration,
                       dir: Path): Option[Path] = {
    val fs = dir.getFileSystem(conf)
    val log = new FileStreamSinkLog(FileStreamSinkLog.VERSION, spark,
      FileStreamSink.getMetadataLogPath(fs, dir, spark.sessionState.conf).toString)
    log.allFiles().map(_.path).sorted.headOption
      .map(p => new Path(new java.net.URI(p)))
  }

  /** Spark's listing (`InMemoryFileIndex`) skips `_`/`.`-prefixed names
    * (a `_k=v` partition directory excepted) and in-flight copies.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def firstDataFile(fs: FileSystem, p: Path): Option[Path] =
    if (fs.getFileStatus(p).isFile) Some(p)
    else fs.listStatus(p).filterNot(s => hidden(s.getPath.getName))
      .sortBy(_.getPath.getName).iterator
      .flatMap(s => if (s.isFile) Some(s.getPath) else firstDataFile(fs, s.getPath))
      .nextOption()
}
