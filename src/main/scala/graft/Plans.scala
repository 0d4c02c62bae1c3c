package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: dump `.explain("formatted")` for declared queries into
  * text files — the optimization-round evidence trail
  * (`plans/r21/<query>_{before,after}.txt`). Not part of the driver
  * contract; session config mirrors Bench so the captured plans are
  * the ones the bench executes (AQE on, shuffle partitions = cpus).
  *
  * Usage: runMain graft.Plans <sfDir> <outDir> <suffix> [q1,q2,...]
  * (empty or missing filter = every declared query).
  */
object Plans {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = new java.io.File(args(1))
    val suffix = args(2)
    outDir.mkdirs()
    val spark = GraftSession.local(defaultCpus = 4)
    for ((name, fn) <- GraftSession.queries(args.lift(3).filter(_.nonEmpty))) {
      try {
        val df = fn(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        val f = new java.io.File(outDir, s"${name}_$suffix.txt")
        val w = new java.io.PrintWriter(f, "UTF-8")
        try w.println(txt) finally w.close()
        System.err.println(s"[plans] wrote $f")
      } catch { case e: Throwable =>
        System.err.println(s"[plans] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
