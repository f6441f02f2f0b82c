package graft

import graft.schemas.Discogs
import graft.sources.DiscogsXml
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import scala.jdk.CollectionConverters._

/** The referee the dump reader is held to: Spark's XML data source,
  * with the options the program used it with before it parsed dumps
  * itself (the entity's read schema, PERMISSIVE, the corrupt column
  * `_graft_corrupt`), and the tables the program derived from its rows.
  * Test scope only: the program never calls the XML data source. */
object XmlReferee {

  /** (row tag, read schema, id column) per entity. */
  private val meta = Map(
    "releases" -> (("release", Discogs.releaseXmlSchema, "_id")),
    "artists" -> (("artist", Discogs.artistXmlSchema, "id")),
    "labels" -> (("label", Discogs.labelXmlSchema, "id")),
    "masters" -> (("master", Discogs.masterXmlSchema, "_id")))

  /** `body` with the XML data source set to its per-record (legacy)
    * parser or to its default one. The default parser turns the rest
    * of a dump into one corrupt row at the first record that is not
    * well-formed; the per-record one rejects just that record. */
  def withParser[A](spark: SparkSession, legacy: Boolean)(body: => A): A = {
    val key = "spark.sql.legacy.useLegacyXMLParser"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, legacy.toString)
    try body finally before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** Every record of the dump at `path`, as the XML data source parses
    * it. */
  def rows(spark: SparkSession, path: String): DataFrame = {
    val (tag, schema, _) = meta(DiscogsXml.detectEntity(path))
    spark.read.format("xml")
      .option("rowTag", tag)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_graft_corrupt")
      .schema(schema.add("_graft_corrupt", StringType))
      .load(path)
  }

  /** The tables of the dump at `path` from [[rows]]: rejects dropped,
    * first wins in document order, then the reader's own
    * normalization. The rows are collected in document order (gzip
    * keeps a dump one partition), so position is document order. They
    * are parsed in full before the tables
    * derive from them, as the load's cut of a fan-out dump parsed them:
    * a table's own query would prune the parse to its columns, and a
    * bad value in a column it skips would then not reject the record. */
  def tables(spark: SparkSession, path: String): Map[String, DataFrame] = {
    val entity = DiscogsXml.detectEntity(path)
    val id = meta(entity)._3
    val w = Window.partitionBy(col(id)).orderBy(col("__ord"))
    val parsed = rows(spark, path)
    val good = spark.createDataFrame(parsed.collect().toSeq.asJava, parsed.schema)
      .filter(col("_graft_corrupt").isNull && col(id).try_cast("int").isNotNull)
      .withColumn(id, col(id).try_cast("int"))
      .drop("_graft_corrupt")
      .withColumn("__ord", monotonically_increasing_id())
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__ord", "__rn")
    DiscogsXml.DumpGroup(entity, good).tables.toMap
  }
}
