package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.RepartitionOperation
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.enrich.{Fields, Rem2Fill}
import graft.ingest.{PdfChunks, PdfText, XmlEntities}
import graft.matching.{PdfIndex, PdfParse, Rem2Join}
import graft.norm.Normalize
import graft.sinks.Xlsx

/** Ground truth written by the input generator (truth.json). */
final case class Truth(entities: Int, entriesReadable: Int, matched: Int, rem2Missing: Int,
    rem2Conflict: Int, nameMissing: Int, eolProbePages: Int)

object Truth {
  def read(path: String): Truth = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods.parse
    val j = parse(new String(Files.readAllBytes(Paths.get(path)), "UTF-8"))
    def i(k: String): Long = (j \ k) match {
      case JInt(v) => v.toLong
      case other => sys.error(s"truth.json: $k is $other")
    }
    Truth(i("entities").toInt, i("entries_readable").toInt, i("matched").toInt,
      i("flag_rem2_missing").toInt, i("flag_rem2_conflict").toInt, i("flag_name_missing").toInt,
      i("eol_probe_pages").toInt)
  }
}

object Sanctions {
  /** Whether a frame's plan moves all of its rows into one partition, as
    * the local fill branch does. */
  def funnelsToOneTask(df: DataFrame): Boolean =
    df.queryExecution.analyzed.exists {
      case r: RepartitionOperation => r.numPartitions == 1
      case _ => false
    }
}

/** The sanctions pipeline over one generated input set: the feed XML and
  * PDF report set on disk to the closed xlsx report.
  *
  * An execution is `Pipeline.runFromPdfPaths` then `Xlsx.writeReport`. The
  * checks read the workbook back from disk, outside the timed region. */
final class Sanctions(spark: SparkSession, inputs: String, work: String) extends Workload {
  val truth: Truth = Truth.read(s"$inputs/truth.json")
  def items: Int = truth.entities
  private val feed = s"$inputs/feed/feed.xml"
  private val pdfDir = s"$inputs/pdf"
  private val report = s"$work/report.xlsx"
  private var firstDigest: String = null

  /** Make the inputs known to the session: the feed and the report set's
    * file listing (nothing is decoded). */
  def register(): Unit = {
    spark.read.option("wholetext", "true").text(feed).createOrReplaceTempView("sanctions_feed")
    spark.read.format("binaryFile").load(pdfDir).select("path", "length")
      .createOrReplaceTempView("sanctions_pdfs")
  }

  def execute(): Unit = Xlsx.writeReport(Pipeline.runFromPdfPaths(spark, feed, pdfDir), report)

  /** Per-execution checks on the written report; returns the failures. */
  def check(): Seq[String] = {
    val r = XlsxReport.read(report)
    val t = truth
    val fails = mutable.ArrayBuffer.empty[String]
    def expect(what: String, got: Long, want: Long): Unit =
      if (got != want) fails += s"$what: got $got, want $want"
    expect("xlsx rows", r.rows, t.entities + 1L)
    expect("matched", r.rem2.count(_.nonEmpty), t.matched)
    expect("rem2 missing", r.rem2Missing.count(identity), t.rem2Missing)
    expect("rem2 conflict", r.conflict.count(identity), t.rem2Conflict)
    expect("name missing", r.nameMissing.count(identity), t.nameMissing)
    val badFlags = r.rem2.indices.count { i =>
      val flagged = r.conflict(i) || r.rem2Missing(i)
      (r.rem2(i).isEmpty != flagged) || (r.conflict(i) && r.rem2Missing(i))
    }
    expect("rows whose flags disagree with REM2", badFlags, 0)
    if (firstDigest == null) firstDigest = r.digest
    else if (r.digest != firstDigest) fails += s"report digest ${r.digest} != first $firstDigest"
    fails.toSeq
  }

  // ------------------------------------------------------------------ traced

  private def persisted(df: DataFrame): (DataFrame, Long) = {
    val p = df.persist()
    (p, p.count())
  }

  /** The pipeline one public call at a time, each call's output persisted
    * and counted inside its span, its input already materialized. Returns
    * the layer facts that are not times (row and document counts). */
  def traced(tr: Tracer): (Map[String, Double], Seq[String]) = {
    val facts = mutable.LinkedHashMap.empty[String, Double]
    val (ents, nEnts) = tr.span("ingest.xml_parse")(persisted(XmlEntities.parse(spark, feed)))
    facts("ingest.xml_parse.rows_out") = nEnts
    val (texts, nDocs) = tr.span("ingest.pdf_text")(persisted(PdfText.fromPdfFiles(spark, pdfDir)))
    facts("ingest.pdf_text.docs_in") = nDocs
    facts("ingest.pdf_text.docs_empty") = texts.filter(col("value") === "").count()
    facts("ingest.pdf_text.bytes_in") = tr.spans.last.counters.inputBytes
    val (chunks, nChunks) = tr.span("ingest.pdf_chunks")(persisted(PdfChunks.chunks(texts)))
    facts("ingest.pdf_chunks.chunks_out") = nChunks
    // entries of the readable documents that came out as no chunk
    facts("ingest.pdf_chunks.entries_lost") = truth.entriesReadable - nChunks
    val (index, nKeys) = tr.span("matching.pdf_index")(persisted(PdfIndex.build(chunks)))
    facts("matching.pdf_index.keys_out") = nKeys
    facts("matching.pdf_index.key_collisions") = keyCollisions(chunks)
    val (enriched, nRows) = tr.span("enrich.fields")(
      persisted(Fields.enrich(ents.repartition(col("entity_seq")))))
    facts("enrich.fields.rows_out") = nRows
    val (cands, nProbe) = tr.span("matching.rem2_join")(
      persisted(Rem2Join.probe(enriched.select("entity_seq", "candidates"), index)))
    facts("matching.rem2_join.probe_rows") = nProbe
    facts("matching.rem2_join.hit_share") =
      cands.filter(col("rem2_candidate") =!= "").count().toDouble / math.max(1L, nProbe)
    val withCand = enriched.join(cands, Seq("entity_seq"))
    val fillIn = withCand.select(col("entity_seq"), col("full_name"), col("rem2_candidate"))
    val (fill, filled) = tr.span("enrich.rem2_fill") {
      val f = Rem2Fill(fillIn, sizeHint = nRows)
      (f, persisted(f)._1)
    }
    facts("enrich.rem2_fill.distributed") = if (Sanctions.funnelsToOneTask(fill)) 0 else 1
    facts("enrich.rem2_fill.conflict_rows") = filled.filter(col("flag_rem2_conflict")).count()
    facts("enrich.rem2_fill.missing_rows") = filled.filter(col("flag_rem2_missing")).count()
    // the distributed form (ChainFill) on the same input: an unknown size
    // hint always distributes, whatever the feed size
    val (chained, _) = tr.span("enrich.chain_fill")(persisted(Rem2Fill(fillIn, sizeHint = -1L)))
    def rows(df: DataFrame) = df.orderBy(col("entity_seq")).collect().toSeq
    val problems =
      if (rows(chained) == rows(Rem2Fill.applyLocal(fillIn))) Nil
      else Seq("distributed Rem2Fill differs from Rem2Fill.applyLocal")
    val (out, _) = tr.span("pipeline.project")(persisted(project(withCand.join(filled, Seq("entity_seq")))))
    tr.span("sinks.xlsx")(Xlsx.writeReport(out, report))
    facts("sinks.xlsx.bytes_out") = Files.size(Paths.get(report))
    facts("ingest.pdf_text.eol_probe_pages_lost") = eolProbePagesLost()
    (facts.toMap, problems)
  }

  /** Pages of the defect probe document (half of them AES streams whose
    * ciphertext ends in 0x0D) whose line is missing from the extracted
    * text. Not a failed check: it gauges an open defect of the reader. */
  private def eolProbePagesLost(): Int = {
    val n = truth.eolProbePages
    val text = PdfText.fromPdfFiles(spark, s"$inputs/eol_probe").select("value")
      .collect().map(_.getString(0)).mkString("\n")
    (1 to n).count(p => !text.contains(s"EOL probe page $p of $n"))
  }

  /** Pipeline.run's final projection and order, built from its public
    * parts: the 28 report columns (absent ones empty), the final FULL_NAME
    * scrub, the template constants and the four flags. */
  private def project(joined: DataFrame): DataFrame = {
    val fullNameFinal = when(col("full_name") =!= "UNKNOWN",
      Normalize.cleanFullnameFinalUdf(col("full_name"))).otherwise(col("full_name"))
    val withCols = joined
      .withColumn("FULL_NAME", fullNameFinal)
      .withColumn("WEB_LINK", lit(Pipeline.DefaultWebLink))
      .withColumn("SOURCE", lit(Pipeline.DefaultSource))
      .withColumn("REM2", col("rem2"))
    val have = withCols.columns.toSet
    withCols.select(Seq(col("entity_seq")) ++
        Pipeline.CsvColumns.map(c => if (have(c)) col(c).as(c) else lit("").as(c)) ++
        Seq(col("flag_name_missing"), col("flag_category_missing"),
          col("flag_rem2_missing"), col("flag_rem2_conflict")): _*)
      .orderBy(col("entity_seq"))
  }

  /** Index keys that more than one chunk produces (first chunk wins). */
  private def keyCollisions(chunks: DataFrame): Long = {
    val name = udf((s: String) => PdfParse.parseChunk(s).name)
    chunks.select(col("chunk_seq"), name(col("chunk")).as("name"))
      .filter(col("name").isNotNull)
      .select(col("chunk_seq"), explode(Normalize.variantsArray(col("name"))).as("key"))
      .filter(col("key") =!= "")
      .groupBy("key").agg(countDistinct("chunk_seq").as("n"))
      .filter(col("n") > 1).count()
  }

  // ------------------------------------------------------ once per invocation

  /** The check made once per run, after the cold execution and outside
    * the timed ones: `Pipeline.run`'s frame has entity_seq 0..n-1 in order,
    * and its REM2 and flags equal the written report row for row. */
  def checkOnce(): Seq[String] = {
    val fails = mutable.ArrayBuffer.empty[String]
    val rows = Pipeline.runFromPdfPaths(spark, feed, pdfDir)
      .select("entity_seq", "REM2", "flag_rem2_missing", "flag_rem2_conflict").collect()
    val seqOk = rows.indices.forall(i => rows(i).getLong(0) == i.toLong)
    if (rows.length != truth.entities || !seqOk)
      fails += s"entity_seq is not 0..${truth.entities - 1} in order"
    val r = XlsxReport.read(report)
    val same = rows.length == r.rem2.length && rows.indices.forall { i =>
      rows(i).getString(1) == r.rem2(i) && rows(i).getBoolean(2) == r.rem2Missing(i) &&
        rows(i).getBoolean(3) == r.conflict(i)
    }
    if (!same) fails += "pipeline frame and written report disagree"
    fails.toSeq
  }
}
