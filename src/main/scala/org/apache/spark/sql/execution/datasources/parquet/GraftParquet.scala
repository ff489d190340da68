package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

import scala.util.Try

/** The schema of a single parquet file, read from its footer on the driver.
  * `spark.read.parquet(file)` infers the same schema from the same footer,
  * but always inside a Spark job (`SchemaMergeUtils.mergeSchemasInParallel`):
  * ~70 ms a read on `local[4]` against 8–11 ms here. Footer read and
  * conversion are Spark's own (`readSchema` honours the session's
  * binary-as-string, INT96 and NTZ settings and prefers the Spark schema
  * the writer stored), and both are `private[parquet]`, hence the package. */
object GraftParquet {

  /** `path`'s schema when it names one parquet file; None for a directory
    * or a path that does not exist, which the caller leaves to Spark. */
  def fileSchema(session: SparkSession, path: String): Option[StructType] = {
    val conf = session.sessionState.newHadoopConf()
    val p = new Path(path)
    Try(p.getFileSystem(conf).getFileStatus(p)).toOption.filter(_.isFile).flatMap { st =>
      val footers = ParquetFileFormat.readParquetFootersInParallel(
        conf, Seq(st), session.sessionState.conf.ignoreCorruptFiles)
      ParquetFileFormat.readSchema(footers, session)
    }
  }
}
