package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The local session and query filter shared by the dev and bench
  * mains (`Bench`, `Verify`, `Plans`, `Scratch`, `ScaleBench`).
  * `Main.main` builds its own: it honours `SPARK_MASTER`. */
object GraftSession {

  /** `local[cpus]` with `cpus` shuffle partitions, where `cpus` is
    * `SPARK_GRAFT_CPUS` or the caller's default; `conf` is laid over
    * the shared settings. */
  def local(defaultCpus: Int,
      conf: Seq[(String, String)] = Nil): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Dev-only subset filter: a name is kept when it contains one of
    * the comma-separated substrings of `only`; no filter keeps every
    * name. */
  def keep(only: Option[String]): String => Boolean = {
    val subs = only.map(_.split(',').toSeq.filter(_.nonEmpty))
    name => subs.forall(_.exists(name.contains))
  }

  /** The declared queries [[keep]] selects, in name order. */
  def queries(only: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val k = keep(only)
    SparkEntry.queries.toSeq.sortBy(_._1).filter(q => k(q._1))
  }
}
