package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode

/**
 * Plan-capture tool for the optimization rounds: writes
 * `<outDir>/<query>_<tag>.txt` with the `.explain("formatted")` output of
 * each selected declared query, so plan-shape claims (Exchange counts, join
 * strategy, PushedFilters) are reviewable without running Spark.
 *
 * Usage: runMain graft.PlanDump <sfDir> <outDir> <tag> <all|p1,p2,...>
 * (`all` dumps every declared query; otherwise each comma-separated entry
 * selects the queries whose name starts with it). Exits 1 when a query
 * fails to build or a prefix selects nothing; the failing plan file holds
 * the error.
 */
object PlanDump {
  def main(args: Array[String]): Unit = {
    if (args.length != 4) {
      System.err.println(
        "usage: graft.PlanDump <sfDir> <outDir> <tag> <all|p1,p2,...>")
      sys.exit(2)
    }
    val Array(sfDir, out, tag, list) = args
    val outDir = java.nio.file.Paths.get(out)
    val all = SparkEntry.queries.keys.toSeq.sorted
    val prefixes =
      if (list == "all") Seq("")
      else list.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unmatched = prefixes.filterNot(p => all.exists(_.startsWith(p)))
    val names = all.filter(n => prefixes.exists(n.startsWith))
    java.nio.file.Files.createDirectories(outDir)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val failed = names.filterNot { name =>
      val (txt, ok) =
        try (SparkEntry.queries(name)(spark, sfDir).queryExecution
          .explainString(FormattedMode), true)
        catch { case e: Throwable => (s"ERROR building plan: $e", false) }
      java.nio.file.Files.write(outDir.resolve(s"${name}_$tag.txt"),
        txt.getBytes("UTF-8"))
      // staged frames registered while BUILDING plans must not leak across
      // queries (budget eviction would otherwise thrash on a full dump)
      graft.operators.Staging.releaseAll(spark, blocking = false)
      ok
    }
    spark.stop()
    println(s"wrote ${names.size} plans to $outDir")
    unmatched.foreach(p => System.err.println(s"no query matches '$p'"))
    failed.foreach(n => System.err.println(s"$n: plan failed to build"))
    if (failed.nonEmpty || unmatched.nonEmpty) sys.exit(1)
  }
}
