package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ingest.{PdfChunks, XmlEntities}
import graft.matching.PdfParse

/** Edge cases of the ingest layer and the PDF line scanner
  * (SURVEY §2.1 S4/S7, §2.4 J1). */
class IngestSpec extends AnyFunSuite {

  test("XML parse: multiple feed files, entity_seq restarts per file row") {
    val spark = TestSpark.spark
    import spark.implicits._
    val doc1 = """<export xmlns="http://x"><sanctionEntity><subjectType classificationCode="P"/></sanctionEntity></export>"""
    val doc2 = """<export><sanctionEntity/><sanctionEntity/></export>"""
    val out = XmlEntities.fromXmlStrings(Seq(doc1, doc2).toDF("value"))
    assert(out.count() == 3)
    // namespace stripped: attribute readable without prefix
    assert(out.filter(col("subjectType.classificationCode") === "P").count() == 1)
  }

  test("malformed XML degrades to zero entities, no exception (main.py:1101–1103)") {
    val spark = TestSpark.spark
    import spark.implicits._
    val out = XmlEntities.fromXmlStrings(
      Seq("not xml at all <<<", "<export><unclosed>").toDF("value"))
    assert(out.count() == 0)
  }

  test("PDF chunking: header dropped, programme sniff, GEN default") {
    val spark = TestSpark.spark
    import spark.implicits._
    // the programme regex captures the first alnum run only ("syria" of
    // "syria/x", main.py:274)
    val text = "header junk\nEntity 1\nProgramme: syria/x\nEntity 2\nno programme here"
    val rows = PdfChunks.chunks(Seq(text).toDF("value"))
      .orderBy("chunk_seq").collect()
    assert(rows.length == 2)
    assert(rows(0).getAs[String]("programme") == "SYRIA")
    assert(rows(1).getAs[String]("programme") == "GEN")
    assert(rows(0).getAs[Long]("chunk_seq") == 0L)
  }

  test("PDF scanner: name continuation line and label truncation") {
    val info = PdfParse.parseChunk(
      "Entity 9\nName/Alias:\n\nJane  Doe Address: somewhere\nNumber: N-1")
    assert(info.name == "Jane Doe") // continuation + truncate at Address:
    assert(info.rem2 == "Number: N-1")
  }

  test("PDF scanner: non-Latin name yields no index entry, numbers joined") {
    val info = PdfParse.parseChunk(
      "Entity 9\nName/Alias: Сергей\nNumber: A\nNumber: B\nProgramme: x|y|z")
    assert(info.name == null)
    assert(info.rem2 == "Number: A / B; Programme: z")
  }

  test("PDF scanner: empty programme after label picks next non-empty line") {
    val info = PdfParse.parseChunk(
      "Entity 9\nName/Alias: Al Test\nProgramme:\n\nLIBYA")
    assert(info.name == "Al Test")
    assert(info.rem2 == "Programme: LIBYA")
  }
}
