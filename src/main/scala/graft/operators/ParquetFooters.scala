package graft.operators

import java.net.URI

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation.IntLogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader}
import org.apache.spark.sql.types._

/** Metadata questions about a stored parquet table, answered on the
  * driver from file footers: no Spark job (Dremel, VLDB'20, and Spark
  * SQL's data-source design answer them from file metadata, not a scan).
  * Each answer is None wherever the footers cannot give exactly what
  * Spark's own path gives; the caller then takes that path. */
private[graft] object ParquetFooters {

  /** The footer key Spark's parquet writer stores the row schema under
    * (ParquetReadSupport.SPARK_METADATA_KEY). */
  private val SparkSchemaKey = "org.apache.spark.sql.parquet.row.metadata"

  /** The file index's rule for entry names it never lists: `_` names
    * (bar partition directories), `.` names and in-flight copies. */
  def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")

  private def footer(conf: Configuration, path: Path,
                     filter: ParquetMetadataConverter.MetadataFilter): ParquetMetadata =
    ParquetFooterReader.readFooter(HadoopInputFile.fromPath(path, conf), filter)

  /** The schema parquet inference returns for a table directory, given
    * its entries. Without mergeSchema and without summary files,
    * inference reads one footer: the first data file in path order, data
    * files being those the file index lists (hidden `_`/`.` names
    * skipped), and takes the Spark row schema stored in that footer.
    * None (infer as usual) for a partitioned or nested directory, a
    * summary file, mergeSchema on, no data file, a footer without Spark
    * metadata, or any read error. */
  def inferredSchema(spark: SparkSession, entries: Seq[FileStatus]): Option[StructType] = {
    val summary = entries.map(_.getPath.getName)
      .exists(n => n.startsWith("_metadata") || n.startsWith("_common_metadata"))
    val listed = entries.filterNot(e => hidden(e.getPath.getName))
    if (spark.sessionState.conf.isParquetSchemaMergingEnabled || summary ||
        listed.exists(_.isDirectory)) None
    else listed.sortBy(_.getPath.toString).headOption.flatMap { first =>
      Try {
        val conf = spark.sessionState.newHadoopConf()
        footer(conf, first.getPath, ParquetMetadataConverter.SKIP_ROW_GROUPS)
          .getFileMetaData.getKeyValueMetaData.asScala.get(SparkSchemaKey)
          .map(DataType.fromJson(_).asInstanceOf[StructType])
      }.toOption.flatten
    }
  }

  /** MAX of an integral column of `df` from row-group statistics, when
    * `df` is a bare scan of an unpartitioned parquet table: Some(None)
    * when no row holds a value, as an ungrouped MAX returns NULL. None
    * (scan instead) for any other plan, a non-integral, nested or dotted
    * column, a file whose column type differs from the table's, a row
    * group without the statistic, or any read error. */
  def maxOf(df: DataFrame, column: String): Option[Option[Long]] =
    if (column.exists(c => c == '.' || c == '`')) None
    else df.queryExecution.analyzed match {
      case lr: LogicalRelation => lr.relation match {
        case h: HadoopFsRelation if h.fileFormat.isInstanceOf[ParquetFileFormat] &&
            h.partitionSchema.isEmpty =>
          val resolver = df.sparkSession.sessionState.conf.resolver
          h.dataSchema.fields.filter(f => resolver(f.name, column)) match {
            case Array(f) => physicalInt(f.dataType).flatMap { phys =>
              Try {
                val conf = df.sparkSession.sessionState.newHadoopConf()
                val maxes = h.location.inputFiles.toSeq.map { file =>
                  val path = new Path(new URI(file))
                  fileMax(footer(conf, path, ParquetMetadataConverter.NO_FILTER),
                    f.name, phys)
                }
                Option.when(maxes.forall(_.isDefined))(maxes.flatten.flatten.maxOption)
              }.toOption.flatten
            }
            case _ => None
          }
        case _ => None
      }
      case _ => None
    }

  /** The parquet type Spark writes an integral column as. */
  private def physicalInt(t: DataType): Option[PrimitiveTypeName] = t match {
    case ByteType | ShortType | IntegerType => Some(PrimitiveTypeName.INT32)
    case LongType => Some(PrimitiveTypeName.INT64)
    case _ => None
  }

  /** One file's max of a top-level column over its row groups. None: the
    * file cannot answer; Some(None): the file holds no value. A row group
    * holds none only when its null count covers every value. */
  private def fileMax(meta: ParquetMetadata, name: String,
                      phys: PrimitiveTypeName): Option[Option[Long]] = {
    val signed = meta.getFileMetaData.getSchema.getFields.asScala.find(_.getName == name)
      .filter(_.isPrimitive).map(_.asPrimitiveType).exists { p =>
        p.getPrimitiveTypeName == phys && (p.getLogicalTypeAnnotation match {
          case null => true
          case i: IntLogicalTypeAnnotation => i.isSigned
          case _ => false
        })
      }
    val groups = meta.getBlocks.asScala.toSeq.map { block =>
      block.getColumns.asScala.find(_.getPath.toArray.sameElements(Array(name))).flatMap { c =>
        Option(c.getStatistics).collect {
          case s if s.hasNonNullValue => Some(s.genericGetMax.asInstanceOf[Number].longValue)
          case s if s.isNumNullsSet && s.getNumNulls == c.getValueCount => None
        }
      }
    }
    Option.when(signed && groups.forall(_.isDefined))(groups.flatten.flatten.maxOption)
  }
}
