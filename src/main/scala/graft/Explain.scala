package graft

import org.apache.spark.sql.execution.ExplainMode

/** Plan-capture tool (not part of the driver contract): writes
  * `.explain("formatted")` output for registered queries to files, so
  * optimization rounds can commit before/after plan evidence without
  * hand-copying console output.
  *
  * Usage: graft.Explain <outDir> [nameRegex]
  * Env:   SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
  *        SPARK_GRAFT_CPUS   (default 32)
  *
  * Building a DataFrame runs any fixture setup the query function does
  * (some audits write scratch generations before returning the frame),
  * so this is slower than pure planning — but it exercises exactly the
  * plan the bench times.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val outDir = java.nio.file.Paths.get(
      if (args.nonEmpty) args(0) else "plans/r15")
    val filter = args.lift(1).map(_.r)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkEntry.mainSession(defaultCpus = 32)
    java.nio.file.Files.createDirectories(outDir)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.matches(n)))
    names.foreach { name =>
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          ExplainMode.fromString("formatted"))
        java.nio.file.Files.writeString(outDir.resolve(s"$name.txt"), txt)
        System.err.println(s"[explain] wrote $name")
      } catch { case e: Throwable =>
        System.err.println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
