package graft.sources.api

import java.util

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.{DataSourceRegister, Filter, GreaterThan}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 web-API source — the production-grade form of the
  * reference's per-endpoint `requests.get` loop (SURVEY.md §2.1 S1/S2;
  * mabna_tables_create.py:46-67, constants.yaml:3-9).
  *
  * Usage:
  * {{{
  *   spark.read.format("graft-api")
  *     .schema("id LONG, date_time STRING, meta_version LONG")
  *     .option("endpoints", "exchange/trades?instrument.type=share,exchange/news")
  *     .option("transport", "fake")          // TransportRegistry key
  *     .option("versionColumn", "meta_version")
  *     .load()
  *     .filter($"meta_version" > 500000L)    // ← pushed INTO the request
  * }}}
  *
  * Design (vs the reference's sequential Python loop):
  *  - one InputPartition per endpoint → all 78 reference endpoints fetch
  *    in parallel across the cluster, not serially in one task;
  *  - `SupportsPushDownFilters`: a `versionColumn > wm` filter becomes
  *    the `meta.version={wm}&meta.version_op=gt` request parameters, so
  *    the incremental read (S2) ships only new rows over the wire — the
  *    same pushdown the reference hand-codes (mabna_tables_update.py:46);
  *  - nested JSON objects are flattened to `a_b` names on read (matching
  *    JsonFlatten's engine convention), so the user schema is flat and
  *    every column filter/projection stays a top-level attribute.
  */
class ApiDataSource extends TableProvider with DataSourceRegister {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new IllegalArgumentException(
      "graft-api requires an explicit read schema (the reference's schema " +
        "inference re-derives per fetch; a cluster source pins it)")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ApiTable(schema, properties.asScala.toMap)
  override def shortName(): String = "graft-api"
}

final class ApiTable(tableSchema: StructType, props: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String = s"graft-api(${props.getOrElse("endpoints", "")})"
  override def schema(): StructType = tableSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ApiScanBuilder(tableSchema, props ++ options.asScala)
}

final class ApiScanBuilder(schema: StructType, opts: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters {
  private val versionCol = opts.getOrElse("versionColumn", "meta_version")
  private var pushed: Array[Filter] = Array.empty

  /** Accept `versionCol > literal` — it becomes request parameters, the
    * reference's incremental-fetch contract. The accepted filter is ALSO
    * returned as a residual: the request param is an optimization (ship
    * fewer rows), never a correctness dependency — a transport or API
    * that ignores the param still yields correct results because Spark
    * re-applies the predicate post-scan (a cheap long comparison). */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter {
      case GreaterThan(col, _: Long) if col == versionCol => true
      case GreaterThan(col, _: Int) if col == versionCol => true
      case _ => false
    }
    filters // everything stays residual; `pushed` only shapes the request
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = {
    val wm = pushed.collectFirst {
      case GreaterThan(_, v: Long) => v
      case GreaterThan(_, v: Int) => v.toLong
    }
    new ApiScan(schema, opts, wm)
  }
}

final class ApiScan(schema: StructType, opts: Map[String, String],
                    watermark: Option[Long]) extends Scan with Batch {
  override def readSchema(): StructType = schema
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-api endpoints=${opts.getOrElse("endpoints", "")} wm=$watermark"

  override def planInputPartitions(): Array[InputPartition] =
    opts.getOrElse("endpoints", "")
      .split(",").map(_.trim).filter(_.nonEmpty)
      .map(e => ApiInputPartition(e): InputPartition)

  override def createReaderFactory(): PartitionReaderFactory =
    new ApiReaderFactory(schema, opts.getOrElse("transport", "http"), watermark)
}

final case class ApiInputPartition(endpoint: String) extends InputPartition

final class ApiReaderFactory(schema: StructType, transportName: String,
                             watermark: Option[Long])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val ep = partition.asInstanceOf[ApiInputPartition].endpoint
    new ApiPartitionReader(schema, transportName, ep, watermark)
  }
}

/** Fetches one endpoint and streams its `data` array as InternalRows.
  * The watermark travels as the reference's exact parameter pair
  * (`meta.version` / `meta.version_op=gt`, constants.yaml:3-9). */
final class ApiPartitionReader(schema: StructType, transportName: String,
                               endpoint: String, watermark: Option[Long])
    extends PartitionReader[InternalRow] {

  private lazy val rows: Iterator[InternalRow] = {
    val params = Map(
      "meta.version" -> watermark.getOrElse(0L).toString,
      "meta.version_op" -> "gt")
    val body = TransportRegistry.get(transportName).fetch(endpoint, params)
    val root = new ObjectMapper().readTree(body)
    val data = root.get("data")
    if (data == null || !data.isArray) Iterator.empty
    else data.elements().asScala.map(rec => JsonRow.toRow(flatten(rec), schema))
  }
  private var current: InternalRow = _

  /** Flatten nested objects to `a_b` keys (JsonFlatten convention). */
  private def flatten(node: JsonNode): Map[String, JsonNode] = {
    def walk(n: JsonNode, prefix: String): Seq[(String, JsonNode)] =
      n.fields().asScala.toSeq.flatMap { e =>
        val name = if (prefix.isEmpty) e.getKey else s"${prefix}_${e.getKey}"
        if (e.getValue.isObject) walk(e.getValue, name)
        else Seq(name -> e.getValue)
      }
    walk(node, "").toMap
  }

  override def next(): Boolean =
    if (rows.hasNext) { current = rows.next(); true } else false
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

/** Minimal JSON → InternalRow conversion over public Jackson API (the
  * flat post-flatten shape needs scalars + arrays of scalars/structs). */
object JsonRow {
  def toRow(fields: Map[String, JsonNode], schema: StructType): InternalRow = {
    val values = schema.fields.map { f =>
      fields.get(f.name).filterNot(_.isNull).map(v => convert(v, f.dataType)).orNull
    }
    InternalRow.fromSeq(values.toIndexedSeq)
  }

  private def convert(n: JsonNode, dt: DataType): Any = dt match {
    case LongType => n.asLong()
    case IntegerType => n.asInt()
    case DoubleType => n.asDouble()
    case FloatType => n.asDouble().toFloat
    case BooleanType => n.asBoolean()
    case StringType => UTF8String.fromString(
      if (n.isTextual) n.asText() else n.toString)
    case st: StructType =>
      InternalRow.fromSeq(st.fields.toIndexedSeq.map { f =>
        val c = n.get(f.name)
        if (c == null || c.isNull) null else convert(c, f.dataType)
      })
    case ArrayType(et, _) =>
      new GenericArrayData(n.elements().asScala.map(convert(_, et)).toArray)
    case other =>
      throw new IllegalArgumentException(s"graft-api: unsupported type $other")
  }
}
