package graftbench

import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input tables in the shape of graft's `documents` and
  * `embeddings` test tables (measured in perfbench/README.md), written
  * as single-file parquet under
  * `<dir>/<name>.parquet` so [[graft.Tables]] reads them like the
  * committed test data (one file, one scan task — the regime the
  * operators' small-scan spread guards exist for).
  *
  * Same seed, same bytes: every value comes from one `Random` stream
  * consumed in id order on the driver. Both generators plant
  * near-duplicates on a fixed id residue ([[isTwin]]) and return the
  * planted `(source, twin)` pairs, so the output checks know pairs
  * that every correct run must find. */
object Inputs {

  /** The test documents' word vocabulary: 30 words, plus `dup`, which
    * only marks a near-duplicate. */
  private val Vocab = Vector(
    "a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")
  private val Langs = Vector("en", "en", "en", "de", "es", "fr", "zh")

  /** One row in 20 is a near-duplicate of a random earlier row: the
    * test documents hold 250 such copies in 5,000. */
  def isTwin(id: Long): Boolean = id % 20 == 13

  /** `n` documents (doc_id, text, lang, source, n_chars): 10–100 words
    * drawn uniformly from the vocabulary, `source` = `src<id % 20>`.
    * A twin is the text of a random earlier document plus ` dup`, as in
    * the test table (word-bigram Jaccard (w−1)/w for a w-word source).
    * Returns the planted pairs. */
  def documents(spark: SparkSession, dir: String, n: Int, seed: Long): Seq[(Long, Long)] = {
    val rnd = new Random(seed)
    val texts = new Array[String](n)
    val planted = Seq.newBuilder[(Long, Long)]
    val rows = (0 until n).map { i =>
      texts(i) =
        if (isTwin(i)) {
          val src = rnd.nextInt(i)
          planted += src.toLong -> i.toLong
          texts(src) + " dup"
        } else Seq.fill(10 + rnd.nextInt(91))(Vocab(rnd.nextInt(Vocab.size))).mkString(" ")
      Row(i.toLong, texts(i), Langs(rnd.nextInt(Langs.size)), s"src${i % 20}",
        texts(i).length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    write(spark, dir, "documents", rows, schema)
    planted.result()
  }

  /** `n` unit-norm 64-dim float embeddings (vec_id, embedding, label):
    * isotropic gaussians with no cluster structure, as in the test table,
    * and a uniform label in 0–9. Unlike the test table, a twin is a
    * jittered copy of a random earlier vector (cosine ≈ 0.997). Returns
    * the planted pairs. */
  def embeddings(spark: SparkSession, dir: String, n: Int, seed: Long): Seq[(Long, Long)] = {
    val dim = 64
    val rnd = new Random(seed ^ 0x5eedL)
    def unit(v: Array[Double]): Array[Float] = {
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
    val vecs = new Array[Array[Float]](n)
    val planted = Seq.newBuilder[(Long, Long)]
    val rows = (0 until n).map { i =>
      vecs(i) =
        if (isTwin(i)) {
          val src = rnd.nextInt(i)
          planted += src.toLong -> i.toLong
          unit(vecs(src).map(x => x + 0.01 * rnd.nextGaussian()))
        } else unit(Array.fill(dim)(rnd.nextGaussian()))
      Row(i.toLong, vecs(i).toSeq, rnd.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    write(spark, dir, "embeddings", rows, schema)
    planted.result()
  }

  private def write(spark: SparkSession, dir: String, name: String,
                    rows: Seq[Row], schema: StructType): Unit =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
      .write.mode("overwrite").parquet(s"$dir/$name.parquet")
}
