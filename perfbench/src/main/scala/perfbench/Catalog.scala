package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.SparkEntry

/** The heavy catalog queries over a generated table set. An execution
  * materializes every query's full result (every column, through the
  * `noop` sink) once and frees its caches before the next query. */
final class Catalog(spark: SparkSession, dir: String, work: String) extends Workload {

  /** Iterative and driver-bound first, then data-bound, then the three the
    * roadmap questions (driver collect, persist, write phase). */
  val queries: Seq[String] = Seq(
    "x143_beam_ann", "x35_pagerank",
    "x4_ngram_jaccard",
    "x116_perplexity_buckets", "x96_skew_audit", "j12_bucketed_join")

  def register(): Unit = graft.tables.Tables.registerViews(spark, dir)

  /** One query, its full result materialized by the `noop` sink, or written
    * to parquet under `out` when one is given; then, as `Bench` does, the
    * Dataset cache is cleared and every RDD unpersisted. */
  def run(name: String, out: Option[String] = None): Unit =
    try {
      val w = SparkEntry.queries(name)(spark, dir).write.mode("overwrite")
      out match {
        case Some(o) => w.parquet(s"$o/$name.parquet")
        case None => w.format("noop").save()
      }
    } finally {
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }

  def execute(): Unit = queries.foreach(run(_))

  def items: Int = queries.size

  /** The timed executions' results are not read back; see checkOnce. */
  def check(): Seq[String] = Nil

  /** One more execution outside the timed ones, its results and the oracle
    * SQL written under `work/oracle` for the DuckDB comparison that runs
    * after the JVM exits. */
  def checkOnce(): Seq[String] = {
    val out = s"$work/oracle"
    queries.foreach(run(_, Some(out)))
    val sql = SparkEntry.oracleSql
    val entries = queries.map(q => s"${Json.str(q)}:${Json.str(sql(q))}")
    Files.writeString(Paths.get(s"$out/oracle_sql.json"), entries.mkString("{", ",", "}"))
    Nil
  }

  def traced(tr: Tracer): (Map[String, Double], Seq[String]) = {
    queries.foreach(q => tr.span(s"queries.$q")(run(q)))
    (Map.empty, Nil)
  }
}
