package graft

/** Same-boot A/B benchmark — the perf-claim evidence harness.
  *
  * Cross-boot comparisons of committed bench records are unreliable on
  * this machine (ROUND_NOTES documents ~1.5× run-to-run variance on the
  * heavy queries), so any perf claim must be demonstrated inside ONE
  * JVM boot: both sides of the comparison, interleaved, min-of-N.
  *
  * Usage:
  *   runMain graft.BenchAB <out.json> <name>[,<name>…]
  * Env:
  *   SPARK_GRAFT_SF_DIR  — data dir (default sf0.1)
  *   SPARK_GRAFT_AB_REPS — samples per query (default 3)
  *
  * Names resolve in [[SparkEntry.queries]] only. Execution interleaves
  * full rounds — round r times every query once before any query gets
  * sample r+1 — so a slow machine phase penalizes all sides equally.
  * The JSON records every sample plus the min, and the JVM boot id, so
  * a committed record proves same-boot provenance.
  *
  * Workflow for an A/B: the change that makes the claim adds its alternate
  * arm inline (a temporary "<query>__<tag>" entry merged into `all`
  * below, or a temporary constructor option), runs this harness and
  * commits the BENCH_AB_*.json record, then deletes the arm again —
  * the losing side lives in that record and in git history, not as
  * callable code.
  */
object BenchAB {

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: graft.BenchAB <out.json> <q1,q2,…>")
    val outPath = args(0)
    val names = args(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_AB_REPS", "3").toInt
    val spark = Sessions.local("graft-bench-ab")
    spark.sparkContext.setLogLevel("WARN")
    val all = SparkEntry.queries
    val missing = names.filterNot(all.contains)
    require(missing.isEmpty, s"unknown queries: ${missing.mkString(",")}")

    def once(name: String): Double = {
      val t0 = System.nanoTime()
      all(name)(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
      System.gc()
      t
    }

    // warm-up round (JIT/codegen, not recorded), then `reps` recorded
    // rounds, each visiting every query once before the next round
    names.foreach(once)
    val samples = scala.collection.mutable.Map
      .empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    for (_ <- 1 to reps; n <- names) samples(n) = samples(n) :+ once(n)

    val bootId = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getName // pid@host — unique per JVM boot
    val qs = names.map { n =>
      val ss = samples(n)
      s""""$n":{"min":${ss.min},"samples":[${ss.mkString(",")}]}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"ab","boot":"$bootId","reps":$reps,"sf":"$sfDir","queries":$qs}"""
    println(json)
    val p = java.nio.file.Paths.get(outPath)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p,
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }
}
