package graft.tools

/** Dump `.explain("formatted")` for every declared query (or only the
  * named ones) to <outDir>/<name>_<suffix>.txt. Not API.
  *
  * Usage: runMain graft.tools.PlanDump <sfDir> <outDir> <suffix> [only...]
  * Building a lifecycle query's DataFrame executes its table lifecycle
  * (that's the closure, not the final action), so a full dump costs about
  * one bench pass.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = java.nio.file.Paths.get(args(1))
    val suffix = args(2)
    val only: Set[String] = args.drop(3).toSet
    java.nio.file.Files.createDirectories(outDir)
    val spark = graft.Sessions.local("plandump", 32)
    spark.sparkContext.setLogLevel("ERROR")
    val names = graft.SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
    names.foreach { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.write(
          outDir.resolve(s"${name}_$suffix.txt"),
          plan.getBytes("UTF-8"))
        // lifecycle checkpoints accumulate otherwise (same hygiene as Bench)
        spark.sparkContext.getPersistentRDDs.values
          .foreach(_.unpersist(blocking = false))
        System.err.println(s"[plandump] $name ok")
      } catch {
        case e: Throwable =>
          System.err.println(s"[plandump] $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
