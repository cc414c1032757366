package perfbench

import java.nio.file.Paths

/** Runs set-up and one unit of every workload in one JVM. The build runs
  * it with -XX:ArchiveClassesAtExit, so the classes a run loads (Spark's,
  * the program's, the benchmark's) come from one class-data archive that
  * every benchmark run maps, instead of being parsed and verified from the
  * jars again in each fresh process.
  *
  * Usage: perfbench.Warmup <work dir>
  */
object Warmup {
  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val spark = Main.session("warmup", work)
    val tracer = new Tracer(spark)
    Main.workloads.toSeq.sortBy(_._1).foreach { case (name, make) =>
      val wl = make(spark, 0L, work.resolve(name))
      try {
        wl.setup(); wl.prepare(0); wl.apply(0, tracer)
        wl.reads(0, tracer).foreach(_._2()); wl.check(0)
      } finally wl.close()
    }
    spark.stop()
  }
}
