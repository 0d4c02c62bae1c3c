package perfbench

import java.io.File

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The `SparkEntry` operator layer: seven entries — k-means IVF search,
  * the availableNow stream entries, the link-graph iterations and the
  * connected-components fixpoint — over a generated `documents` and
  * `embeddings` corpus in the shape the entries read.
  *
  * The corpus is the same on every run: each entry's result is checked
  * against a hash pinned in `operators.sha256`, taken from a run whose
  * results `tools/check_oracle.py` matched against the DuckDB oracle
  * SQL. To re-pin after a change to the corpus or an entry:
  *
  *   sbt "runMain perfbench.Operators <dir>"
  *
  * writes the corpus to `<dir>` and prints each entry's hash; run
  * `graft.Verify <dir> <out>` with `SPARK_GRAFT_ONLY` set to the seven
  * names and check `<out>` with `tools/check_oracle.py` (its views over
  * the two tables only, each read from the part files under its
  * `<dir>/<table>.parquet` directory, and
  * `oracle_sql.json` cut to the seven) before committing the printed
  * lines. The hashes do not depend on the core count: runs on 2 and 4
  * cores print the same. */
object Operators {
  val Names: Seq[String] = Seq("q53_embed_ann_ivf_clustered",
    "q97_stream_quality_monitor", "q102_stream_ingest_dedup",
    "q140_link_pagerank", "q142_dup_clusters_fixpoint", "q149_link_hits",
    "q154_stream_bm25_serve")

  val CorpusSeed = 7L
  val Docs = 2000
  val Vectors = 500
  val Dims = 64

  private val Langs = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "in"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht"),
    "fr" -> Seq("le", "la", "et", "les", "est", "une"),
    "es" -> Seq("el", "los", "y", "que", "es", "una"))
  private val Sources = Seq("web", "news", "forum", "wiki", "code")
  private val Syllables = Seq("ka", "lo", "mi", "ren", "to", "sa", "vel",
    "dor", "ni", "pa", "qua", "ex", "im", "ul", "or", "ta", "be", "ge", "fi",
    "zo", "mar", "tin", "sol", "ur")

  /** Text of Zipf-distributed made-up words plus each language's
    * function words. One document in twelve copies an earlier one of at
    * least 100 tokens with one token replaced (Jaccard well above the
    * 0.8 near-duplicate threshold), one in fifty copies one exactly. */
  def documents(seed: Long): Seq[(Long, String, String, String)] = {
    val rnd = new scala.util.Random(seed)
    val vocab = {
      val words = scala.collection.mutable.LinkedHashSet.empty[String]
      while (words.size < 3000)
        words += Seq.fill(2 + rnd.nextInt(2))(Syllables(rnd.nextInt(Syllables.size))).mkString
      words.toIndexedSeq
    }
    val cdf = vocab.indices.map(r => 1.0 / (r + 1)).scanLeft(0.0)(_ + _).tail.toArray
    def zipf(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble() * cdf.last)
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
    }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, String)]
    val long = scala.collection.mutable.ArrayBuffer.empty[Array[String]]
    for (id <- 0L until Docs) {
      val (lang, stop) = Langs(rnd.nextInt(Langs.size))
      val source = Sources(rnd.nextInt(Sources.size))
      val p = rnd.nextDouble()
      val toks =
        if (p < 0.02 && out.nonEmpty) out(rnd.nextInt(out.size))._2.split(' ')
        else if (p < 0.1 && long.nonEmpty) {
          val t = long(rnd.nextInt(long.size)).clone()
          t(rnd.nextInt(t.length)) = zipf()
          t
        } else Array.fill(40 + rnd.nextInt(120))(
          if (rnd.nextInt(4) == 0) stop(rnd.nextInt(stop.size)) else zipf())
      if (toks.length >= 100) long += toks
      out += ((id, toks.mkString(" "), lang, source))
    }
    out.toSeq
  }

  /** Unit-variance vectors, rounded to three decimals. */
  def embeddings(seed: Long): Seq[(Long, Array[Float])] = {
    val rnd = new scala.util.Random(seed + 1)
    (0L until Vectors).map(id => id -> Array.fill(Dims)(
      (math.rint(rnd.nextGaussian() * 1000) / 1000).toFloat))
  }

  /** Write `documents.parquet` and `embeddings.parquet` under `dir`,
    * one file each, as the test data ships them. */
  def writeCorpus(spark: SparkSession, dir: File): Unit = {
    val docs = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    val docRows = documents(CorpusSeed).map { case (id, t, l, s) =>
      Row(id, t, l, s, t.length.toLong) }
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docs)
      .coalesce(1).write.parquet(new File(dir, "documents.parquet").getPath)
    val vecs = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false))))
    val vecRows = embeddings(CorpusSeed).map { case (id, v) => Row(id, v.toSeq) }
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), vecs)
      .coalesce(1).write.parquet(new File(dir, "embeddings.parquet").getPath)
  }

  /** One entry's rows over the corpus in `dir`. */
  def run(spark: SparkSession, dir: File, name: String): Array[Row] =
    graft.SparkEntry.queries(name)(spark, dir.getPath).collect()

  /** The pinned hash of each entry's rows. */
  lazy val pinned: Map[String, String] = {
    val text = new String(getClass.getResourceAsStream(
      "/perfbench/operators.sha256").readAllBytes(), "UTF-8")
    text.linesIterator.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l => val Array(h, n) = l.split("\\s+"); n -> h }.toMap
  }

  def main(args: Array[String]): Unit = {
    val dir = new File(args(0))
    val spark = BenchMain.session(new File(dir, "work"))
    try {
      writeCorpus(spark, dir)
      Names.foreach(n => println(s"${Checks.rowsHash(run(spark, dir, n))}  $n"))
    } finally spark.stop()
  }
}
