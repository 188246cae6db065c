package perfbench

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.util.zip.{ZipEntry, ZipFile, ZipOutputStream}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.Pipeline
import graft.sinks.Xlsx

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = {
    val s = SparkSession.builder().master("local[4]").appName("perfbench-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  private lazy val jm = new JobMetrics(spark.sparkContext)

  override def afterAll(): Unit = spark.stop()

  test("listener: job, stage and task counts of a known plan are pinned") {
    // AQE on: the shuffle map stage runs as one job (4 range slices, 4
    // tasks), the coalesced result stage as another (1 task)
    jm.inGroup("pin") {
      spark.range(0, 10000, 1, 4).groupBy((col("id") % 10).as("k")).count()
        .write.format("noop").mode("overwrite").save()
    }
    val c = jm.counters("pin")
    assert((c.jobs, c.stages, c.tasks) == (2, 2, 5))
    assert(c.shuffleWriteBytes > 0 && c.shuffleReadBytes > 0)
    assert(c.taskSeconds >= 0)
    // a second group is counted apart; an unknown group is empty
    jm.inGroup("other")(spark.range(10).collect())
    assert(jm.counters("other").jobs == 1)
    assert(jm.counters("pin").jobs == 2)
    assert(jm.counters("none").jobs == 0)
  }

  test("driver-only time is the span minus the union of job intervals") {
    val c = new GroupCounters
    c.jobIntervals ++= Seq((100L, 300L), (200L, 400L), (600L, 700L), (50L, 80L))
    // span 100..1000 covers jobs 100..400 and 600..700 → 400 ms covered
    assert(math.abs(c.driverOnlySeconds(100L, 1000L) - 0.5) < 1e-9)
    assert(c.driverOnlySeconds(0L, 0L) == 0.0)
  }

  test("the fill branch is read from the plan: one partition local, else distributed") {
    import spark.implicits._
    val in = Seq((0L, "A", "x"), (1L, "B", ""), (2L, "A", "")).toDF("entity_seq", "full_name",
      "rem2_candidate")
    assert(Sanctions.funnelsToOneTask(graft.enrich.Rem2Fill(in, sizeHint = 3L)))
    assert(!Sanctions.funnelsToOneTask(graft.enrich.Rem2Fill(in, sizeHint = -1L)))
  }

  /** A 4-row pipeline-shaped frame: one match, one missing, one conflict,
    * one UNKNOWN name. */
  private def writeReport(dir: Path): String = {
    val rows = Seq(
      (0L, "Alice Rivera", "Number: X-1; Programme: SYRIA", false, false, false, false),
      (1L, "Bob Stone", "", false, false, true, false),
      (2L, "John Smith", "", false, false, false, true),
      (3L, "UNKNOWN", "", true, false, true, false))
    import spark.implicits._
    val base = rows.toDF("entity_seq", "FULL_NAME", "REM2", "flag_name_missing",
      "flag_category_missing", "flag_rem2_missing", "flag_rem2_conflict")
    val frame = base.select(Seq(col("entity_seq")) ++ Pipeline.CsvColumns.map(c =>
      if (base.columns.contains(c)) col(c) else lit("x").as(c)) ++
      Seq("flag_name_missing", "flag_category_missing", "flag_rem2_missing",
        "flag_rem2_conflict").map(col): _*)
    val out = dir.resolve("report.xlsx").toString
    Xlsx.writeReport(frame, out)
    out
  }

  private def inputsWithTruth(dir: Path): String = {
    val in = Files.createDirectories(dir.resolve("inputs"))
    Files.writeString(in.resolve("truth.json"),
      """{"entities": 4, "entries_readable": 3, "matched": 1,
        |"flag_rem2_missing": 2, "flag_rem2_conflict": 1, "flag_name_missing": 1,
        |"eol_probe_pages": 0}""".stripMargin)
    in.toString
  }

  /** Rewrite the workbook's sheet with `edit` applied to its XML. */
  private def alter(path: String)(edit: String => String): Unit = {
    val zip = new ZipFile(path)
    val parts = try zip.entries().asScala.toList.map { e =>
      val bytes = zip.getInputStream(e).readAllBytes()
      e.getName -> (if (e.getName == "xl/worksheets/sheet1.xml")
        edit(new String(bytes, "UTF-8")).getBytes("UTF-8") else bytes)
    } finally zip.close()
    val zos = new ZipOutputStream(new FileOutputStream(path))
    try parts.foreach { case (n, b) => zos.putNextEntry(new ZipEntry(n)); zos.write(b); zos.closeEntry() }
    finally zos.close()
  }

  test("checker accepts the written report and rejects altered ones") {
    val dir = Files.createTempDirectory("perfbench-check")
    val inputs = inputsWithTruth(dir)
    val report = writeReport(dir)
    val pristine = Files.readAllBytes(java.nio.file.Paths.get(report))
    val s = new Sanctions(spark, inputs, dir.toString)
    assert(s.check() == Nil)
    assert(s.check() == Nil) // same digest twice

    // a changed REM2 value: the digest moves and the matched count is off
    alter(report)(_.replace("Number: X-1; Programme: SYRIA", "Number: X-2; Programme: SYRIA"))
    val changed = s.check()
    assert(changed.exists(_.contains("digest")))
    alter(report)(_.replace("Number: X-2; Programme: SYRIA", ""))
    assert(new Sanctions(spark, inputs, dir.toString).check().exists(_.startsWith("matched")))

    // a conflict row that lost its red fill
    Files.write(java.nio.file.Paths.get(report), pristine)
    alter(report)(_.replaceAll("""(<c r="[A-Z]+4") s="2"""", "$1"))
    val unflagged = new Sanctions(spark, inputs, dir.toString).check()
    assert(unflagged.exists(_.startsWith("rem2 conflict")))
    assert(unflagged.exists(_.startsWith("rows whose flags disagree")))

    // a dropped row
    Files.write(java.nio.file.Paths.get(report), pristine)
    alter(report)(_.replaceAll("""<row r="5">.*?</row>""", ""))
    assert(new Sanctions(spark, inputs, dir.toString).check().exists(_.startsWith("xlsx rows")))
  }
}
