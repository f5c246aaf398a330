package graft.engine

import java.io.FileNotFoundException
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** The one way `src/main` opens parquet.
  *
  * A bare `spark.read.parquet` infers the data schema with a one-task
  * Spark job that reads a footer, even with `mergeSchema=false`
  * (`SchemaMergeUtils.mergeSchemasInParallel` always runs
  * `parallelize(...).collect()`), so every read-back of a table this
  * engine just wrote paid a job (28–60 ms each on a 4-core VM). The
  * reference's DuckDB catalog already knows each table's schema. Here
  * the data schema is read on the driver from the footer of the first
  * data file, with the conversion Spark's inference uses
  * (`readSchemaFromFooter` and the session's
  * `ParquetToSparkSchemaConverter`), so `nanosAsLong`, `binaryAsString`,
  * Spark's row metadata and nullability come out as before. The footer holds only data columns: partition columns
  * (`day=`, `__batch_id=`, `__delta=`) are still found, typed and
  * ordered by Spark's path discovery. With no data file under the
  * paths, the read is Spark's own, so a missing or empty table fails
  * as it always did.
  */
object Parquet {

  /** Read `path` (a file or a table directory). */
  def read(spark: SparkSession, path: String): DataFrame = read(spark, Seq(path))

  /** Read `paths` as one frame. `basePath` anchors partition discovery
    * above the paths; `schema` is a data schema the caller already
    * knows (a frame just written, or a sink that may hold no data file)
    * and skips the footer read.
    */
  def read(spark: SparkSession, paths: Seq[String], basePath: Option[String] = None,
           schema: Option[StructType] = None): DataFrame = {
    val reader = basePath.foldLeft(spark.read)(_.option("basePath", _))
    schema.orElse(dataSchema(spark, paths)).fold(reader)(s => reader.schema(s))
      .parquet(paths: _*)
  }

  /** The data schema Spark's inference would give `paths`, from the
    * footer of their first data file; `None` when there is none.
    */
  private def dataSchema(spark: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = spark.sessionState.newHadoopConf()
    paths.iterator.flatMap(p => dataFiles(new Path(p), conf)).nextOption().map { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
    }
  }

  /** The rows of every data file under `path`, summed from their
    * footers' row groups on the driver: a committed table's row count
    * with no Spark job.
    */
  def rowCount(spark: SparkSession, path: String): Long = {
    val conf = spark.sessionState.newHadoopConf()
    dataFiles(new Path(path), conf).flatMap(f => ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.NO_FILTER)
      .getBlocks.asScala.map(_.getRowCount)).sum
  }

  /** Names Spark's file index skips: `_`/`.` files and directories,
    * except `_`-prefixed `key=value` partition directories.
    */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  /** `path` itself when it is a file; else, in name order, the data
    * files of a directory, then those under its subdirectories
    * (partition directories). Lazy: the first file lists one directory
    * per level.
    */
  private def dataFiles(path: Path, conf: Configuration): Iterator[FileStatus] = {
    val fs = path.getFileSystem(conf)
    def under(st: FileStatus): Iterator[FileStatus] =
      if (st.isFile) Iterator(st)
      else {
        val (files, dirs) = fs.listStatus(st.getPath)
          .filterNot(c => hidden(c.getPath.getName)).sortBy(_.getPath.getName)
          .partition(_.isFile)
        files.iterator ++ dirs.iterator.flatMap(under)
      }
    try under(fs.getFileStatus(path)) catch { case _: FileNotFoundException => Iterator.empty }
  }
}
