package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one reader of the engine's input tables (`<dir>/<name>.parquet`,
  * a file or a directory of part files). A schema-less
  * `spark.read.parquet` runs one Spark job (`mergeSchemasInParallel`) per
  * read just to learn the schema; here the schema comes from the parquet
  * footer, read on the driver with Spark's own `readSchemaFromFooter` and
  * `ParquetToSparkSchemaConverter` — so its types are exactly what
  * inference gives — and every read passes it with `.schema(s)`.
  *
  * The schema is a [[graft.Caches]] grain keyed by the table, the file
  * it comes from (path, length, mtime) and the
  * `spark.sql.legacy.parquet.nanosAsLong` flag: a table rewritten in place
  * is re-read on its next use, and a nanos-vintage `events.ts` keeps the
  * type its reader asked for. For a directory the schema file is the first
  * non-hidden data file in sorted path order, the file Spark's
  * non-merging inference reads (summary files are not consulted). Checking
  * the key costs one file status (a listing for a directory) per read, on
  * the driver.
  */
object SourceReader {

  /** Input table `name` under `dir`, read with its footer schema. */
  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.schema(schema(spark, dir, name)).parquet(pathOf(dir, name))

  /** Input table `name`'s schema from its footer, memoized per file
    * version. Throws when the table has no readable data file. */
  def schema(spark: SparkSession, dir: String, name: String): StructType = {
    val path = new Path(pathOf(dir, name))
    val st = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getFileStatus(path)
    val file = if (!st.isDirectory) st else firstDataFile(spark, Seq(path))
      .getOrElse(throw new java.io.FileNotFoundException(
        s"no parquet data file in $path"))
    graft.Caches.grain(spark, dir,
        s"sources.schema/$name/${file.getPath}/${file.getLen}/" +
        s"${file.getModificationTime}/" +
        spark.sessionState.conf.legacyParquetNanosAsLong)(
      footerSchema(spark, file))
  }

  /** The data schema of the parquet files under `dirs` (e.g. some
    * partition directories of a warehouse table), from the footer of
    * their first data file in sorted path order — the same non-merging
    * rule, not memoized. None when `dirs` hold no data file. */
  def dataSchema(spark: SparkSession, dirs: Seq[Path]): Option[StructType] =
    firstDataFile(spark, dirs).map(footerSchema(spark, _))

  /** The first non-hidden data file under `dirs` in sorted path order. */
  private def firstDataFile(spark: SparkSession,
                            dirs: Seq[Path]): Option[FileStatus] = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.flatMap(d => dataFiles(d.getFileSystem(conf), d))
      .minByOption(_.getPath.toString)
  }

  private def footerSchema(spark: SparkSession, file: FileStatus): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
      ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  private def pathOf(dir: String, name: String) = s"$dir/$name.parquet"

  /** Files under `dir`, skipping the names Spark's file listing hides
    * (`_SUCCESS`, `.crc` files, `_spark_metadata`; `_`-names holding `=`
    * are partition directories and are kept). */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq.filterNot { s =>
      val n = s.getPath.getName
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    }.flatMap(s => if (s.isDirectory) dataFiles(fs, s.getPath) else Seq(s))
}
