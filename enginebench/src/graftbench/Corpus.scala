package graftbench

import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** One corpus document: text over a Zipf vocabulary and a clustered
  * embedding. */
final case class Doc(id: Long, text: String, emb: Array[Double])

/** Seeded corpus generator: Zipf(1.05) word frequencies over a
  * 4000-word vocabulary, 15–50 words per document, embeddings drawn
  * around one of 12 Gaussian cluster centres in 32 dimensions, and
  * planted near- and exact duplicates of earlier documents. */
final class Corpus(seed: Long) {
  import Corpus._
  private val rnd = new Random(seed * 31 + 7)
  private val zipf = new Zipf(Vocab, 1.05)
  private val centres = Array.fill(Clusters, Dim)(rnd.nextGaussian())

  def embedding(): Array[Double] = {
    val c = centres(rnd.nextInt(Clusters))
    Array.tabulate(Dim)(i => c(i) + 0.35 * rnd.nextGaussian())
  }

  def doc(id: Long): Doc =
    Doc(id, Seq.fill(15 + rnd.nextInt(36))(word(zipf.sample(rnd))).mkString(" "), embedding())

  /** The same words with one or two substituted (Jaccard of 3-word
    * shingles stays high), and a nearby embedding. */
  def nearDup(of: Doc, id: Long): Doc = {
    val ws = of.text.split(" ")
    (1 to 1 + rnd.nextInt(2)).foreach(_ => ws(rnd.nextInt(ws.length)) = word(zipf.sample(rnd)))
    Doc(id, ws.mkString(" "), of.emb.map(_ + 0.01 * rnd.nextGaussian()))
  }

  def exactDup(of: Doc, id: Long): Doc = Doc(id, of.text, of.emb.map(_ + 0.01 * rnd.nextGaussian()))

  /** Query terms: a common word (frequency rank 10–59) and a rarer one
    * (rank 100–399). */
  def queryTerms(): Seq[String] = Seq(word(10 + rnd.nextInt(50)), word(100 + rnd.nextInt(300)))
}

object Corpus {
  val Vocab = 4000
  val Dim = 32
  val Clusters = 12
  private val Syl = Seq("ka", "ri", "to", "mu", "ne", "sa", "lo", "pi", "da", "fe",
    "go", "hu", "ji", "ba", "ve", "zo", "qu", "wy", "ce", "ra")

  def word(k: Int): String =
    Syl(k % 20) + Syl(k / 20 % 20) + (if (k >= 400) Syl(k / 400 % 20) else "")

  val Schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("text", StringType, nullable = false),
    StructField("embedding", ArrayType(DoubleType, containsNull = false), nullable = false)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(docs.map(d => Row(d.id, d.text, d.emb.toSeq)): _*), Schema)
}
