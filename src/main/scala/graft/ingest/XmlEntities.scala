package graft.ingest

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** S4: sanctions XML feed → one row per `<sanctionEntity>` with an explicit
  * `entity_seq` ordering column (SURVEY §2.1-S4, main.py:149–180).
  *
  * The reference splits the feed into one FILE per entity and re-parses each
  * (its shuffle substitute); here the whole feed parses in ONE lazy plan:
  * wholetext read → namespace strip → `from_xml` into a nested array →
  * `posexplode` (array order = document order ⇒ entity_seq, SURVEY H1).
  *
  * Scale note: one row per feed FILE before the explode. entity_seq is the
  * position inside its file, so the contract is one feed file: several
  * files under one path give overlapping entity_seq values.
  */
object XmlEntities {

  /** Observed input schema (FIXTURES.md A1; attribute fields surface without
    * prefix via the attributePrefix option). All leaves nullable StringType —
    * absent attribute ⇒ null, mirroring `attrib.get` (main.py:576). */
  val nameAliasType: StructType = StructType(
    Seq("wholeName", "gender", "function", "title")
      .map(StructField(_, StringType)))
  val citizenshipType: StructType = StructType(
    Seq(StructField("countryDescription", StringType)))
  val birthdateType: StructType = StructType(
    Seq("birthdate", "year", "yearRangeFrom", "yearRangeTo", "place")
      .map(StructField(_, StringType)))
  val addressType: StructType = StructType(
    Seq("city", "countryDescription", "street", "region", "place", "zipCode")
      .map(StructField(_, StringType)))
  val regulationType: StructType = StructType(
    Seq(StructField("numberTitle", StringType)))

  val sanctionEntityType: StructType = StructType(Seq(
    StructField("subjectType",
      StructType(Seq(StructField("classificationCode", StringType)))),
    StructField("nameAlias", ArrayType(nameAliasType)),
    StructField("citizenship", ArrayType(citizenshipType)),
    StructField("birthdate", ArrayType(birthdateType)),
    StructField("address", ArrayType(addressType)),
    StructField("regulation", ArrayType(regulationType)),
    StructField("remark", ArrayType(StringType))))

  private val docType: StructType =
    StructType(Seq(StructField("sanctionEntity", ArrayType(sanctionEntityType))))

  /** Strip namespace declarations and element-name prefixes so `from_xml`
    * field matching is namespace-free — the Spark equivalent of the runtime
    * namespace sniff (main.py:154–156). */
  private def stripNamespaces(xml: org.apache.spark.sql.Column) = {
    val noDecl = regexp_replace(xml, """\sxmlns(:\w+)?="[^"]*"""", "")
    regexp_replace(noDecl, "<(/?)\\w+:", "<$1")
  }

  /** Parse feed files under `path` into entity rows with `entity_seq`. */
  def parse(spark: SparkSession, path: String): DataFrame =
    fromXmlStrings(spark.read.option("wholetext", "true").text(path))

  /** Same, over an in-memory (doc) DataFrame with column `value` — used by
    * tests and fixture-backed runs. */
  def fromXmlStrings(docs: DataFrame): DataFrame = {
    val opts = Map("attributePrefix" -> "", "valueTag" -> "_VALUE")
    docs
      .withColumn("doc", from_xml(stripNamespaces(col("value")), docType, scala.jdk.CollectionConverters.MapHasAsJava(opts).asJava))
      .select(posexplode(col("doc.sanctionEntity")).as(Seq("entity_seq", "entity")))
      .select(col("entity_seq").cast("long").as("entity_seq"), col("entity.*"))
  }
}
