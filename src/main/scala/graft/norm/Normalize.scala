package graft.norm

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Spark column layer over [[PyText]]: P1/P2 predicates, the five scalar
  * UDFs of SURVEY §2.11, and the D1/D2 gender cascade (main.py:369–390,
  * :773–787).
  *
  * Everything that a built-in Catalyst expression can express IS a built-in
  * (codegen'd, null-safe); only the genuinely stateful string kernels are
  * UDFs. UDFs are registered lazily per-JVM via `functions.udf` — they
  * serialize with the closure, no session registration needed.
  */
object Normalize {

  // -- P1: UNKNOWN-sentinel validity (main.py:648–649, :738–739) -------------

  /** Non-null, non-blank, and not the literal UNKNOWN sentinel (SURVEY H7). */
  def validStr(c: Column): Column =
    c.isNotNull && trim(c) =!= "" && upper(trim(c)) =!= "UNKNOWN"

  // -- scalar UDFs (SURVEY §2.11) --------------------------------------------

  val cleanFullnameFinalUdf = udf((s: String) => PyText.cleanFullnameNoAccentsFinal(s))
  val scrubPlaceTokensUdf = udf((s: String) => PyText.scrubPlaceTokens(s))
  val dedupCaseInsensitiveUdf = udf((xs: Seq[String]) => PyText.dedupCaseInsensitive(xs))

  val normKeepAccentsUdf = udf((s: String) => PyText.normKeepAccents(s))
  val removePunctuationUdf = udf((s: String) => PyText.removePunctuationKey(s))
  val stripAccentsUdf = udf((s: String) => PyText.stripAccentsKey(s))

  /** F5: the 3 lookup-key variants as an array column (k1, k2, k3). */
  def variantsArray(c: Column): Column =
    array(normKeepAccentsUdf(c), removePunctuationUdf(c), stripAccentsUdf(c))

  /** F14: struct-array fields passed as parallel string arrays (a Scala UDF
    * cannot take Row inputs; `arr.field` extraction on array<struct> is free). */
  val detailBirthdatesUdf = udf(
    (bd: Seq[String], yr: Seq[String], from: Seq[String], to: Seq[String]) => {
      val n = if (bd == null) 0 else bd.length
      val tuples = (0 until n).map { i =>
        (Option(bd(i)).filter(_.nonEmpty),
         Option(yr(i)).filter(_.nonEmpty),
         Option(from(i)).filter(_.nonEmpty),
         Option(to(i)).filter(_.nonEmpty))
      }
      PyText.detailBirthdates(tuples)
    })

  // -- D1/D2 gender (main.py:369–390, :773–787) -------------------------------

  val isForcedMaleUdf = udf((s: String) => PyText.isForcedMale(s))

  /** First-name → gender lookup table (H6: the reference bundles
    * gender_guesser's data file; zero-egress here, so we ship a compact
    * curated resource with the same decision shape — only the exact class
    * "female" yields Female downstream, mirroring main.py:781–784). */
  lazy val femaleFirstNames: Set[String] = {
    val in = getClass.getResourceAsStream("/graft/gender_names.tsv")
    require(in != null, "missing resource graft/gender_names.tsv")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try src.getLines()
      .map(_.split("\t"))
      .collect { case Array(name, g) if g == "female" => name.toLowerCase }
      .toSet
    finally src.close()
  }

  val isFemaleNameUdf = udf((first: String) =>
    first != null && femaleFirstNames.contains(first.toLowerCase))

  /** D2 cascade: XML @gender ("F" ⇒ Female, any other non-empty ⇒ Male) →
    * forced-male dictionary ⇒ Male → first-token dictionary lookup
    * ("female" ⇒ Female, all else ⇒ Male) → no name ⇒ Male. */
  def genderCascade(xmlGender: Column, selectedName: Column): Column = {
    val hasXml = xmlGender.isNotNull && xmlGender =!= ""
    val hasName = selectedName.isNotNull
    val firstToken = element_at(split(selectedName, " "), 1)
    when(hasXml, when(upper(xmlGender) === "F", "Female").otherwise("Male"))
      .otherwise(
        when(hasName && isForcedMaleUdf(selectedName), "Male")
          .otherwise(
            when(hasName,
              when(isFemaleNameUdf(firstToken), "Female").otherwise("Male"))
              .otherwise("Male")))
  }
}
