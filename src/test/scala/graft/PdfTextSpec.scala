package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.ingest.{PdfChunks, PdfText}

/** S6 real-PDF decode: PdfText must recover exactly the text MiniPdf drew —
  * FlateDecode and raw streams, literal-string escapes, UTF-16BE hex
  * strings, multi-page /Pages-tree order — and the binaryFile → decode →
  * chunk → pipeline path must reproduce the text-fixture golden output.
  */
class PdfTextSpec extends AnyFunSuite {

  test("round-trip: multi-page, compressed") {
    val pages = Seq("Entity 1\nName: A\nProgramme: SYRIA", "Entity 2\nName: B")
    val bytes = MiniPdf.write(pages, compress = true)
    assert(PdfText.extract(bytes) == pages.mkString("\n") + "\n")
  }

  test("round-trip: uncompressed stream") {
    val pages = Seq("line one\nline two")
    assert(PdfText.extract(MiniPdf.write(pages, compress = false)) == "line one\nline two\n")
  }

  test("literal-string escapes and blank lines survive") {
    val page = "paren (x) and \\slash\n\nafter blank"
    assert(PdfText.extract(MiniPdf.write(Seq(page))) == page + "\n")
  }

  test("non-ASCII text via UTF-16BE hex strings") {
    val page = "Entity 5\nName/Alias: Сергей Иванов\nProgramme: RUSSIA"
    assert(PdfText.extract(MiniPdf.write(Seq(page))) == page + "\n")
  }

  test("page order follows the /Kids tree, not file order") {
    // hand-built PDF whose content objects appear in REVERSE file order
    // relative to the /Kids page sequence
    val raw =
      """%PDF-1.4
        |1 0 obj
        |<< /Type /Catalog /Pages 2 0 R >>
        |endobj
        |2 0 obj
        |<< /Type /Pages /Kids [5 0 R 3 0 R] /Count 2 >>
        |endobj
        |3 0 obj
        |<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>
        |endobj
        |4 0 obj
        |<< /Length 32 >>
        |stream
        |BT 72 760 Td (second page) Tj ET
        |endstream
        |endobj
        |5 0 obj
        |<< /Type /Page /Parent 2 0 R /Contents 6 0 R >>
        |endobj
        |6 0 obj
        |<< /Length 31 >>
        |stream
        |BT 72 760 Td (first page) Tj ET
        |endstream
        |endobj
        |trailer
        |<< /Size 7 /Root 1 0 R >>
        |%%EOF
        |""".stripMargin
    val bytes = raw.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(bytes) == "first page\nsecond page\n")
  }

  test("PDF 1.5 object streams: dicts inside a compressed /ObjStm decode") {
    val pages = Seq("Entity 1\nProgramme: SYRIA", "Entity 2\nName: B", "page three")
    val bytes = MiniPdf.writeObjStm(pages)
    // sanity: the page dictionaries must NOT be visible as top-level text
    assert(!new String(bytes, java.nio.charset.StandardCharsets.ISO_8859_1)
      .contains("/Type /Catalog"))
    assert(PdfText.extract(bytes) == pages.mkString("\n") + "\n")
  }

  test("CID font: 2-byte hex + literal strings decode via /ToUnicode CMap") {
    assert(PdfText.extract(MiniPdf.writeCid()) == MiniPdf.CidExpected + "\n")
  }

  test("ToUnicode CMap parser: widths, bfchar, both bfrange forms") {
    import graft.ingest.PdfText.parseToUnicode
    val one = parseToUnicode(
      "1 begincodespacerange\n<00> <FF>\nendcodespacerange\n" +
        "1 beginbfchar\n<41> <0041>\nendbfchar\n")
    assert(one.width == 1 && one.map(0x41) == "A")
    val rng = parseToUnicode(
      "1 beginbfrange\n<0061> <0063> <0058>\nendbfrange\n")
    assert(rng.width == 2 &&
      rng.map(0x61) == "X" && rng.map(0x62) == "Y" && rng.map(0x63) == "Z")
    val arr = parseToUnicode(
      "1 beginbfrange\n<10> <11> [<0050> <0051>]\nendbfrange\n")
    assert(arr.map(0x10) == "P" && arr.map(0x11) == "Q")
    // multi-code-unit destination: one CID → a surrogate pair / ligature
    val multi = parseToUnicode(
      "1 beginbfchar\n<01> <00660069>\nendbfchar\n")
    assert(multi.map(1) == "fi")
  }

  test("garbage and unsupported codecs yield empty text, never throw") {
    assert(PdfText.extract(Array[Byte](1, 2, 3)) == "")
    assert(PdfText.extract("%PDF-1.4 not really a pdf".getBytes) == "")
  }

  test("binaryFile source: doc_seq follows the numeric-suffix filename sort") {
    val spark = TestSpark.spark
    val dir = Files.createTempDirectory("graftpdf")
    MiniPdf.writeFile(dir.resolve("report_10.pdf"), Seq("Entity 10 text"))
    MiniPdf.writeFile(dir.resolve("report_2.pdf"), Seq("Entity 2 text"))
    // no digits in the name: NULL file_seq, sorted after the numbered files
    MiniPdf.writeFile(dir.resolve("report.pdf"), Seq("Unnumbered text"))
    val rows = PdfText.fromPdfFiles(spark, dir.toString + "/*.pdf")
      .orderBy("doc_seq").collect()
    assert(rows.map(_.getString(1)).toSeq ==
      Seq("Entity 2 text\n", "Entity 10 text\n", // 2 < 10 numerically
        "Unnumbered text\n"))
  }

  test("bundled report.pdf decodes to exactly the pdf.txt fixture text") {
    val pdf = getClass.getResourceAsStream("/graft/fixtures/report.pdf").readAllBytes()
    val txt = new String(
      getClass.getResourceAsStream("/graft/fixtures/pdf.txt").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    assert(PdfText.extract(pdf) == txt.stripLineEnd + "\n")
  }

  test("pipeline from ACTUAL PDF bytes matches the text-fixture golden run") {
    val spark = TestSpark.spark
    val fixtureText = new String(
      getClass.getResourceAsStream("/graft/fixtures/pdf.txt").readAllBytes(),
      java.nio.charset.StandardCharsets.UTF_8)
    // split the report across two pages at a line boundary: page join must
    // reconstruct the exact text
    val lines = fixtureText.stripLineEnd.split("\n", -1)
    val (p1, p2) = lines.splitAt(lines.length / 2)
    val dir = Files.createTempDirectory("graftpdfe2e")
    MiniPdf.writeFile(dir.resolve("sanctions_1.pdf"),
      Seq(p1.mkString("\n"), p2.mkString("\n")))
    val feed = getClass.getResourceAsStream("/graft/fixtures/feed.xml").readAllBytes()
    Files.write(dir.resolve("feed.xml"), feed)

    val fromPdf = Pipeline.runFromPdfPaths(spark,
        dir.resolve("feed.xml").toString, dir.toString + "/*.pdf")
      .collect().map(_.toSeq)
    val golden = Pipeline.runFixture(spark).collect().map(_.toSeq)
    assert(fromPdf.length == golden.length)
    fromPdf.zip(golden).zipWithIndex.foreach { case ((a, g), i) =>
      assert(a == g, s"row $i differs")
    }
  }

  test("chunking from decoded PDF matches chunking from the raw text") {
    val spark = TestSpark.spark
    import spark.implicits._
    val text = "Entity 1\nName: A\nProgramme: SYRIA\nEntity 2\nName: B"
    val viaPdf = {
      val dir = Files.createTempDirectory("graftchunk")
      MiniPdf.writeFile(dir.resolve("r_1.pdf"), Seq(text))
      PdfChunks.chunks(PdfText.fromPdfFiles(spark, dir.toString + "/*.pdf"))
        .orderBy("chunk_seq").collect().map(_.toSeq).toSeq
    }
    val viaText = PdfChunks.chunks(Seq(text).toDF("value"))
      .orderBy("chunk_seq").collect().map(_.toSeq).toSeq
    assert(viaPdf == viaText)
  }

  test("PNG predictor undo recovers rows under every filter type") {
    // forward-encode with a chosen filter per row (RFC 2083), then undo
    def encode(rows: Seq[Array[Int]], filters: Seq[Int]): Array[Byte] = {
      val stride = rows.head.length
      val out = Array.newBuilder[Byte]
      for ((row, r) <- rows.zipWithIndex) {
        val ft = filters(r)
        out += ft.toByte
        for (i <- 0 until stride) {
          val left = if (i > 0) rows(r)(i - 1) else 0
          val up = if (r > 0) rows(r - 1)(i) else 0
          val upLeft = if (r > 0 && i > 0) rows(r - 1)(i - 1) else 0
          val pred = ft match {
            case 0 => 0
            case 1 => left
            case 2 => up
            case 3 => (left + up) / 2
            case 4 =>
              val p = left + up - upLeft
              val (pa, pb, pc) =
                (math.abs(p - left), math.abs(p - up), math.abs(p - upLeft))
              if (pa <= pb && pa <= pc) left else if (pb <= pc) up else upLeft
          }
          out += ((row(i) - pred) & 0xff).toByte
        }
      }
      out.result()
    }
    val rnd = new scala.util.Random(3)
    val rows = Seq.fill(5)(Array.fill(7)(rnd.nextInt(256)))
    val filters = Seq(0, 1, 2, 3, 4)
    val got = PdfText.unpredictPng(encode(rows, filters), columns = 7)
    assert(got.map(_ & 0xff).toSeq == rows.flatten.map(_ & 0xff))
  }

  test("end to end: Predictor-12 content streams decode to the same text") {
    val pages = Seq("Entity 1\nName: Predicted Person\nProgramme: TEST", "Page two text")
    val plain = PdfText.extract(MiniPdf.write(pages))
    val predicted = PdfText.extract(MiniPdf.write(pages, pngPredict = true))
    assert(predicted.trim == plain.trim)
    assert(predicted.contains("Predicted Person"))
  }

  test("RC4-encrypted PDF (R3, 128-bit): decrypts and matches plaintext") {
    val pages = Seq("Entity 1\nName: Secret Person\nProgramme: ENC", "Second page")
    val plain = PdfText.extract(MiniPdf.write(pages))
    val enc = MiniPdf.writeEncrypted(pages, r = 3)
    // sanity: the encrypted bytes must NOT contain the deflated plaintext
    assert(PdfText.extract(enc) == plain)
  }

  test("RC4-encrypted PDF (R2, 40-bit): decrypts and matches plaintext") {
    val pages = Seq("Forty bit stream cipher page")
    val plain = PdfText.extract(MiniPdf.write(pages))
    assert(PdfText.extract(MiniPdf.writeEncrypted(pages, r = 2)) == plain)
  }

  test("AESV2 stream whose ciphertext ends in 0x0D: the direct /Length " +
    "keeps the last byte, so the page still decrypts") {
    // MiniPdf writes stream data + "\nendstream"; find a page text whose
    // AES ciphertext (fixed IV per object) ends in CR, so the EOL trim
    // alone would take "\r\n" and cut one ciphertext byte
    val latin1 = java.nio.charset.StandardCharsets.ISO_8859_1
    val (page, enc) = Iterator.from(0).map(i => s"Entity $i\nName: Cr Person")
      .map(p => p -> MiniPdf.writeEncrypted(Seq(p), r = 4))
      .find { case (_, bytes) =>
        val s = new String(bytes, latin1)
        s.charAt(s.indexOf("\nendstream") - 1) == '\r'
      }.get
    val plain = PdfText.extract(MiniPdf.write(Seq(page)))
    assert(plain.contains("Cr Person"))
    assert(PdfText.extract(enc) == plain)
  }

  test("AESV2-encrypted PDF (R4, 128-bit): decrypts and matches plaintext") {
    val pages = Seq("Entity 1\nName: Aes Person\nProgramme: AESENC", "Second page")
    val plain = PdfText.extract(MiniPdf.write(pages))
    assert(PdfText.extract(MiniPdf.writeEncrypted(pages, r = 4)) == plain)
    assert(plain.contains("Aes Person"))
  }

  test("AESV3-encrypted PDF (R6, AES-256): decrypts and matches plaintext") {
    val pages = Seq("Entity 1\nName: Aes256 Person\nProgramme: AES3", "Second page")
    val plain = PdfText.extract(MiniPdf.write(pages))
    assert(PdfText.extract(MiniPdf.writeEncrypted(pages, r = 6)) == plain)
    assert(plain.contains("Aes256 Person"))
  }

  test("fileKeyR6: wrong validation hash (a real password) yields None") {
    val pages = Seq("locked")
    val enc = MiniPdf.writeEncrypted(pages, r = 6)
    // corrupt one byte of /U's validation hash → key retrieval must fail
    // closed and extraction degrade to empty, never throw
    val s = new String(enc, java.nio.charset.StandardCharsets.ISO_8859_1)
    val uAt = s.indexOf("/U <") + 4
    val flipped = s.substring(0, uAt) +
      (if (s.charAt(uAt) == '0') '1' else '0') + s.substring(uAt + 1)
    assert(PdfText.extract(
      flipped.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)) == "")
  }

  test("hash2B: 32-byte output, sensitive to salt and udata") {
    val e = Array.emptyByteArray
    val s1 = Array.tabulate[Byte](8)(_.toByte)
    val s2 = Array.tabulate[Byte](8)(i => (i + 1).toByte)
    val k1 = PdfText.hash2B(e, s1, e)
    val k2 = PdfText.hash2B(e, s2, e)
    val k3 = PdfText.hash2B(e, s1, s2)
    assert(k1.length == 32 && k2.length == 32 && k3.length == 32)
    assert(!k1.sameElements(k2) && !k1.sameElements(k3))
    // deterministic
    assert(PdfText.hash2B(e, s1, e).toSeq == k1.toSeq)
  }

  test("aesDecrypt: IV-prefixed CBC round trip, lenient padding, bad input") {
    val key = Array.tabulate(16)(i => (i * 11 + 1).toByte)
    val iv = Array.tabulate(16)(i => (i * 3 + 7).toByte)
    val msg = "sixteen byte msg and a tail".getBytes("US-ASCII")
    val c = javax.crypto.Cipher.getInstance("AES/CBC/PKCS5Padding")
    c.init(javax.crypto.Cipher.ENCRYPT_MODE,
      new javax.crypto.spec.SecretKeySpec(key, "AES"),
      new javax.crypto.spec.IvParameterSpec(iv))
    val ct = iv ++ c.doFinal(msg)
    assert(PdfText.aesDecrypt(key, ct).toSeq == msg.toSeq)
    // not block-aligned / too short → empty, never a throw
    assert(PdfText.aesDecrypt(key, ct.drop(1)).isEmpty)
    assert(PdfText.aesDecrypt(key, Array[Byte](1, 2, 3)).isEmpty)
    // a key of no AES length: the cipher rejects it at init, and the
    // well-formed ct rules out the length guard as the reason
    for (len <- Seq(0, 5, 15, 17, 31, 33))
      assert(PdfText.aesDecrypt(Array.fill(len)(1.toByte), ct).isEmpty, s"key length $len")
  }

  test("objectKey: the AES sAlT suffix derives a different key than RC4") {
    val fk = Array.tabulate(16)(_.toByte)
    val k1 = PdfText.objectKey(fk, 7, 0)
    val k2 = PdfText.objectKey(fk, 7, 0, aes = true)
    assert(!k1.sameElements(k2))
    assert(k1.length == 16 && k2.length == 16)
  }

  test("rc4 is a self-inverse stream cipher with the spec's key schedule") {
    val key = Array[Byte](1, 2, 3, 4, 5)
    val msg = (0 until 64).map(_.toByte).toArray
    val ct = PdfText.rc4(key, msg)
    assert(!ct.sameElements(msg))
    assert(PdfText.rc4(key, ct).toSeq == msg.toSeq)
  }

  test("pdfStringAfter: hex, literal escapes, octal, balanced parens") {
    assert(PdfText.pdfStringAfter("<< /O <41 42> >>", "/O").get.toSeq ==
      "AB".getBytes.toSeq)
    assert(PdfText.pdfStringAfter("""<< /O (a\(b\)c) >>""", "/O").get.toSeq ==
      "a(b)c".getBytes.toSeq)
    assert(PdfText.pdfStringAfter("""<< /O (x\101\12z) >>""", "/O").get.toSeq ==
      Seq[Byte]('x', 65, 10, 'z'))
    assert(PdfText.pdfStringAfter("<< /O (a(nested)b) >>", "/O").get.toSeq ==
      "a(nested)b".getBytes.toSeq)
    assert(PdfText.pdfStringAfter("<< /U <11> >>", "/O").isEmpty)
  }

  test("AES/V4 encryption falls through untouched (no throw, partial text)") {
    // hand-corrupt the fixture's encrypt dict to claim V 4 — decryption must
    // be skipped entirely (streams stay ciphered → pages decode empty), and
    // extract must not throw
    val enc = new String(MiniPdf.writeEncrypted(Seq("hidden"), r = 3),
      java.nio.charset.StandardCharsets.ISO_8859_1)
      .replace("/V 2 /R 3", "/V 4 /R 4")
      .getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    assert(PdfText.extract(enc) == "")
  }

  test("TIFF predictor-2 undo recovers horizontally-differenced rows") {
    val rnd = new scala.util.Random(9)
    val rows = Seq.fill(4)(Array.fill(6)(rnd.nextInt(256)))
    val diffed = rows.flatMap { row =>
      row.zipWithIndex.map { case (v, i) =>
        ((v - (if (i > 0) row(i - 1) else 0)) & 0xff).toByte }
    }.toArray
    val got = PdfText.unpredictTiff(diffed, columns = 6)
    assert(got.map(_ & 0xff).toSeq == rows.flatten.map(_ & 0xff))
  }
}
