package perfbench

import java.util.SplittableRandom

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** A word list with a Zipf(1) rank distribution: drawn terms range from
  * words in most documents to words in a handful. */
final class Vocab(val words: Array[String]) {
  private val cdf = {
    val w = words.indices.map(r => 1.0 / (r + 1))
    val total = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / total).toArray
  }
  def draw(r: SplittableRandom): String = drawIn(r, 0, 1)
  /** A Zipf draw restricted to stratum `s` of `n` equal-mass strata: stratum
    * 0 holds the most frequent words, stratum n-1 the rarest. A request
    * template that fixes the stratum fixes its selectivity band, so runs
    * on different seeds ask equally broad questions with different words. */
  def drawIn(r: SplittableRandom, s: Int, n: Int = Strata): String = {
    val u = (s + r.nextDouble()) / n
    val i = java.util.Arrays.binarySearch(cdf, u)
    words(math.min(if (i >= 0) i else -i - 1, words.length - 1))
  }
  val Strata: Int = 4
}

final case class Doc(id: Long, text: String, lang: String, source: String)

/** Input generator. Every table is a pure function of [[Data.Seed]]; the
  * engine sees only the parquet files written here. Shapes follow the repository's sf0.1
  * fixture (documents, embeddings, events, orders, part). */
object Data {
  /** The tables are a fixed fixture, like the repository's sf0.1 data; the
    * run's seed varies only what is asked of them. */
  val Seed = 20240701L
  val Now: java.sql.Timestamp =
    java.sql.Timestamp.from(java.time.Instant.parse("2024-07-01T00:00:00Z"))
  val Langs = Array("en", "en", "en", "de", "fr", "es", "zh")
  val EventTypes = Array("view", "view", "view", "click", "click", "cart", "purchase")

  val DocSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("text", StringType), StructField("lang", StringType),
    StructField("source", StringType), StructField("n_chars", LongType)))

  def vocab(seed: Long, n: Int = 2000): Vocab = {
    val r = new SplittableRandom(seed * 0x9E3779B97F4A7C15L + 17)
    val cons = "bcdfghjklmnprstvz"
    val vows = "aeiou"
    val seen = scala.collection.mutable.LinkedHashSet[String]()
    while (seen.size < n) {
      val syl = 2 + r.nextInt(2)
      seen += (0 until syl).map(_ => s"${cons(r.nextInt(cons.length))}${vows(r.nextInt(vows.length))}").mkString
    }
    new Vocab(seen.toArray)
  }

  def text(v: Vocab, r: SplittableRandom, n: Int): String =
    Array.fill(n)(v.draw(r)).mkString(" ")

  /** `n` documents: 25–90 Zipf tokens each; ~3% are short (fail the
    * quality gate) and ~5% near-duplicate an earlier document. */
  def documents(v: Vocab, r: SplittableRandom, n: Int, firstId: Long = 0L): IndexedSeq[Doc] = {
    val out = new scala.collection.mutable.ArrayBuffer[Doc](n)
    for (i <- 0 until n) {
      val id = firstId + i
      val u = r.nextDouble()
      val body =
        if (u < 0.03) text(v, r, 8 + r.nextInt(8))
        else if (u < 0.08 && out.nonEmpty) {
          val toks = out(r.nextInt(out.size)).text.split(' ')
          toks(r.nextInt(toks.length)) = v.draw(r)
          toks.mkString(" ")
        } else text(v, r, 25 + r.nextInt(66))
      out += Doc(id, body, Langs(r.nextInt(Langs.length)), s"src${r.nextInt(10)}")
    }
    out.toIndexedSeq
  }

  def docFrame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(
      docs.map(d => Row(d.id, d.text, d.lang, d.source, d.text.length.toLong)).asJava,
      DocSchema)

  /** 20k parts named by three vocabulary words (prefix search targets). */
  def parts(spark: SparkSession, v: Vocab, r: SplittableRandom, n: Int = 20000): DataFrame = {
    val brands = Array.tabulate(25)(i => s"Brand#${i / 5 + 1}${i % 5 + 1}")
    val rows = (1 to n).map { k =>
      Row(k.toLong, Seq.fill(3)(v.words(r.nextInt(v.words.length))).mkString(" "),
        brands(r.nextInt(brands.length)), s"TYPE${r.nextInt(30)}", 1 + r.nextInt(50),
        900.0 + r.nextInt(110000) / 100.0)
    }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType),
      StructField("p_brand", StringType), StructField("p_type", StringType),
      StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType))))
  }

  /** 2,000 32-d embeddings around 20 labelled centroids; ~5% near-copies. */
  def embeddings(spark: SparkSession, r: SplittableRandom, n: Int = 2000): DataFrame = {
    val dim = 32
    val cents = Array.fill(20, dim)(r.nextDouble() * 2 - 1)
    val vecs = new scala.collection.mutable.ArrayBuffer[(Array[Float], Int)](n)
    for (_ <- 0 until n) {
      if (vecs.nonEmpty && r.nextDouble() < 0.05) {
        val (src, l) = vecs(r.nextInt(vecs.size))
        vecs += ((src.map(x => x + (r.nextDouble() * 0.002 - 0.001).toFloat), l))
      } else {
        val l = r.nextInt(20)
        vecs += ((cents(l).map(c => (c + r.nextDouble() * 0.8 - 0.4).toFloat), l))
      }
    }
    val rows = vecs.toSeq.zipWithIndex.map { case ((v, l), i) => Row(i.toLong, v.toSeq, l) }
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType))))
  }

  private def h(seed: Long, k: Int): Column =
    pmod(xxhash64(lit(seed), col("id"), lit(k)), lit(Long.MaxValue))
  private def pick(seed: Long, k: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pmod(h(seed, k), lit(xs.size.toLong)) + 1).cast("int"))
  private def tsIn(seed: Long, k: Int, from: String, days: Int): Column =
    timestamp_micros(lit(java.time.Instant.parse(from).toEpochMilli * 1000L) +
      pmod(h(seed, k), lit(days * 86400L * 1000000L)))

  def events(spark: SparkSession, seed: Long, n: Long = 50000L): DataFrame =
    spark.range(n).select(col("id").as("event_id"),
      tsIn(seed, 1, "2024-01-01T00:00:00Z", 120).as("ts"),
      pmod(h(seed, 2), lit(5000L)).as("user_id"),
      pick(seed, 3, EventTypes.toSeq).as("event_type"),
      (pmod(h(seed, 4), lit(100000L)) / 100.0).as("value"),
      concat(lit("{\"k\":"), pmod(h(seed, 5), lit(10L)).cast("string"), lit("}")).as("props"))

  def orders(spark: SparkSession, seed: Long, n: Long = 60000L): DataFrame =
    spark.range(n).select((col("id") + 1).as("o_orderkey"),
      (pmod(h(seed, 1), lit(15000L)) + 1).as("o_custkey"),
      pick(seed, 2, Seq("F", "O", "P")).as("o_orderstatus"),
      (lit(900.0) + pmod(h(seed, 3), lit(50000000L)) / 100.0).as("o_totalprice"),
      tsIn(seed, 4, "1992-01-01T00:00:00Z", 2400).as("o_orderdate"),
      pick(seed, 5, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority"))

  /** Write `df` as one parquet file (the fixture tables are single files). */
  def write(df: DataFrame, path: String): Unit =
    df.coalesce(1).write.mode("overwrite").parquet(path)

  private implicit class AsJava[A](xs: Seq[A]) {
    def asJava: java.util.List[A] = scala.jdk.CollectionConverters.SeqHasAsJava(xs).asJava
  }
}
