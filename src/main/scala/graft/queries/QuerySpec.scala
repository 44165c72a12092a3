package graft
package queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named query: how to build it over an sf directory, and the DuckDB
  * SQL its result must hash-equal. Build and oracle are one record, so a
  * query cannot be registered without its oracle, and the constants both
  * sides use sit next to each other. */
final case class QuerySpec(name: String,
                           build: (SparkSession, String) => DataFrame,
                           oracle: String) {

  /** `qNNN`, everything before the first `_`: what Bench's stdout keys,
    * [[SparkEntry.matching]] prefixes and perfbench's lookup key on. */
  def shortId: String = name.takeWhile(_ != '_')
}

object QuerySpec {

  /** `specs` as a registry. Two records with the same short id (and so
    * also two with the same full name) fail naming both: as keys of one
    * Map literal, the second would silently drop the first. */
  def registry(specs: Seq[QuerySpec]): Seq[QuerySpec] = {
    specs.groupBy(_.shortId).foreach { case (id, same) =>
      require(same.size == 1,
        s"query id $id is declared twice: ${same.map(_.name).mkString(" and ")}")
    }
    specs
  }
}

/** A query family: an object whose body declares its queries, in order,
  * with [[query]]. The family of a query is the object that declares it. */
abstract class QueryFamily {
  private val declared = scala.collection.mutable.ArrayBuffer.empty[QuerySpec]

  protected final def query(name: String,
                            build: (SparkSession, String) => DataFrame,
                            oracle: String): Unit =
    declared += QuerySpec(name, build, oracle)

  final def records: Seq[QuerySpec] = declared.toSeq
}
