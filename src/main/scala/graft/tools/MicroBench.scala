package graft.tools

import graft.SparkEntry

/** Per-query micro-benchmark: warm up, then run each named query `reps`
  * times through the noop sink (same materialization protocol as
  * graft.Bench, so numbers are comparable with the per-round bench JSON).
  *
  *   sbt "runMain graft.tools.MicroBench <sfDir> <reps> <query> [query…]"
  */
object MicroBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2)
    require(names.nonEmpty, "usage: MicroBench <sfDir> <reps> <query>...")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.runtime.Main.session(s"local[$cpus]", cpus.toInt)

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    names.foreach { n =>
      run(n) // warmup: JIT + codegen + file listing
      val times = (1 to reps).map(_ => run(n))
      println(f"[micro] $n%-28s min ${times.min}%6.2f s  " +
        f"avg ${times.sum / reps}%6.2f s  over $reps runs")
    }
    spark.stop()
  }
}
