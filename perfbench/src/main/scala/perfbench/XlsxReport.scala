package perfbench

import java.security.MessageDigest
import java.util.zip.ZipFile
import javax.xml.stream.{XMLInputFactory, XMLStreamConstants}

import scala.collection.mutable

/** What a written report workbook says, read back from the file: the row
  * count, each data row's REM2 and the review flags its fills encode, and
  * an order-sensitive digest of every cell (text and fill). */
final case class XlsxReport(
    rows: Int, // sheet rows, header included
    rem2: Array[String],
    conflict: Array[Boolean], // row red from column B on
    rem2Missing: Array[Boolean], // REM2 cell yellow
    nameMissing: Array[Boolean], // FULL_NAME cell yellow
    digest: String)

object XlsxReport {
  private val Columns = graft.Pipeline.CsvColumns.size
  private val Rem2Col = graft.Pipeline.CsvColumns.indexOf("REM2")
  private val Yellow = graft.sinks.Xlsx.StyleYellow
  private val Red = graft.sinks.Xlsx.StyleRed

  def read(path: String): XlsxReport = {
    val zip = new ZipFile(path)
    try {
      val entry = zip.getEntry("xl/worksheets/sheet1.xml")
      require(entry != null, s"$path has no worksheet")
      val in = zip.getInputStream(entry)
      val f = XMLInputFactory.newInstance()
      val r = f.createXMLStreamReader(in, "UTF-8")
      val md = MessageDigest.getInstance("SHA-256")
      val rem2 = mutable.ArrayBuffer.empty[String]
      val conflict = mutable.ArrayBuffer.empty[Boolean]
      val rem2Missing = mutable.ArrayBuffer.empty[Boolean]
      val nameMissing = mutable.ArrayBuffer.empty[Boolean]
      var rows = 0
      var col = 0
      var style = 0
      val text = new StringBuilder
      var inT = false
      val styles = new Array[Int](Columns)
      val values = new Array[String](Columns)
      while (r.hasNext) {
        r.next() match {
          case XMLStreamConstants.START_ELEMENT =>
            r.getLocalName match {
              case "row" => rows += 1; col = 0
              case "c" =>
                val s = r.getAttributeValue(null, "s")
                style = if (s == null) 0 else s.toInt
                text.setLength(0)
              case "t" => inT = true
              case _ =>
            }
          case XMLStreamConstants.CHARACTERS if inT => text ++= r.getText
          case XMLStreamConstants.END_ELEMENT =>
            r.getLocalName match {
              case "t" => inT = false
              case "c" =>
                require(col < Columns, s"row $rows has more than $Columns cells")
                styles(col) = style
                values(col) = text.toString
                md.update(values(col).getBytes("UTF-8"))
                md.update(Array[Byte](0, style.toByte))
                col += 1
              case "row" =>
                require(col == Columns, s"row $rows has $col cells, expected $Columns")
                md.update(Array[Byte](10))
                if (rows > 1) {
                  rem2 += values(Rem2Col)
                  val red = styles(1) == Red
                  require((1 until Columns).forall(i => (styles(i) == Red) == red),
                    s"row $rows is partly red")
                  conflict += red
                  rem2Missing += (!red && styles(Rem2Col) == Yellow)
                  nameMissing += styles(0) == Yellow
                }
              case _ =>
            }
          case _ =>
        }
      }
      r.close()
      in.close()
      XlsxReport(rows, rem2.toArray, conflict.toArray, rem2Missing.toArray,
        nameMissing.toArray, md.digest().map(b => f"${b & 0xff}%02x").mkString)
    } finally zip.close()
  }
}
