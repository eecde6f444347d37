package graft.tools

import graft.SparkEntry

/** Prints the formatted physical plan of selected queries — the feedback
  * loop for scan pruning (`PushedFilters`/`ReadSchema`), join strategies
  * (broadcast vs shuffle) and WholeStageCodegen coverage.
  * Usage: runMain graft.tools.PlanAudit [queryName ...]
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = graft.runtime.Main.session("local[4]", 4)
    spark.sparkContext.setLogLevel("ERROR")
    val names = if (args.nonEmpty) args.toSeq else SparkEntry.queries.keys.toSeq.sorted
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
