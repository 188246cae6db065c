package graft

/** Dev tool: write `.explain("formatted")` output for named catalog
  * queries to files (the r14+ optimization-evidence artifacts,
  * `plans/r<N>/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> <q1,q2,…>
  *   names are [[SparkEntry.queries]] keys; a before/after pair is two
  *   runs with different suffixes, one on each side of the change.
  * Env:   SPARK_GRAFT_SF_DIR — data dir (default sf0.1)
  *
  * Writes <outDir>/<query>_<suffix>.txt. Construction-time jobs (e.g.
  * GlobalSeq's eager zipWithIndex) run as usual; the dump itself only
  * renders the plan, it does not execute the query action.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.PlanDump <outDir> <suffix> <q1,q2,…>")
    val outDir = java.nio.file.Paths.get(args(0))
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local("graft-plandump")
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(outDir)
    for (name <- names) {
      val df = all(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(outDir.resolve(s"${name}_$suffix.txt"),
        txt.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      println(s"[plandump] wrote $name ($suffix): ${txt.length} chars")
    }
    spark.stop()
  }
}
