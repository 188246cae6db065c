package graft.ingest

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S7: PDF text → per-entity chunks with programme tag
  * (SURVEY §2.1-S7, main.py:261–304). The reference's S8 step writes the
  * chunks to per-programme files and reads them back; here the chunk frame
  * passes straight to the index build.
  *
  * The zero-width lookahead split `(?=Entity\s+\d+\b)` passes straight
  * through to `java.util.regex.Pattern.split` (SURVEY H4). Chunk order is
  * document order (posexplode position), which also defines the first-wins
  * sequence for the J1 index — the reference iterates `os.listdir` (UNSORTED,
  * SURVEY H5); we normalize to document order and record the deviation.
  */
object PdfChunks {

  /** Input: DataFrame with a `value` column holding one whole PDF text per
    * row, optionally a `doc_seq` column fixing cross-document order (as
    * produced by [[PdfText.fromPdfFiles]]). Output:
    * (chunk_seq, programme, chunk). */
  def chunks(pdfTexts: DataFrame): DataFrame = {
    val withDoc =
      if (pdfTexts.columns.contains("doc_seq")) pdfTexts
      else pdfTexts.withColumn("doc_seq", lit(0L))
    val parts = withDoc
      .select(col("doc_seq"),
        posexplode(split(col("value"), "(?U)(?=Entity\\s+\\d+\\b)"))
        .as(Seq("pos", "raw_chunk")))
      // Python chunk.strip() is Unicode-aware
      .withColumn("chunk", regexp_replace(col("raw_chunk"), "(?U)^\\s+|(?U)\\s+$", ""))
      .filter(col("chunk") =!= "" && lower(col("chunk")).startsWith("entity"))
    val prog = regexp_extract(col("chunk"), "(?i)Programme\\s*[:\\-]\\s*([A-Za-z0-9]+)", 1)
    val tagged = parts
      .withColumn("programme", when(prog =!= "", upper(prog)).otherwise(lit("GEN")))
    // document-order sequencing via range-sort + zipWithIndex (GlobalSeq) —
    // no single-partition window
    GlobalSeq.withSeq(tagged, Seq(col("doc_seq"), col("pos")), "chunk_seq")
      .select(col("chunk_seq"), col("programme"), col("chunk"))
  }
}
