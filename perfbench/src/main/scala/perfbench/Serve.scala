package perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.{Aggs, IndexConfig, Search, TextIndex}

/** serve_mix: a closed-loop stream of read requests over stores built once
  * in set-up. Nothing is written in the timed phase. A traced run then also
  * runs the bulk (re)index job ([[BulkLoad.run]]) after the timed phase, so
  * the ingest layers get per-layer figures and their checks without adding
  * their cold-start cost to every run.
  *
  * One cycle asks each request class once, in a fixed order: Lucene-lite
  * search over the doc store, ES-DSL search over orders and over events,
  * a prefix search over parts (all four with row-load), a pure-index search
  * from the postings store, BM25 top-10 from postings + norms, a terms
  * aggregation and a date_histogram aggregation. Every search runs under
  * the engine's default result cap (10,000 rows, the reference's
  * max-results default). Each class is a fixed template whose terms come
  * from fixed Zipf strata ([[Vocab.drawIn]]); the seed picks the words,
  * ranges and event types. */
final class Serve(c: Ctx) extends Workload {
  import Serve._
  private val tr = c.tracer
  private val src = c.data
  private def store(r: Int) = s"${c.dir}/stores/r$r"
  private val last = 2

  val cycle: Int = Mix.size
  /** BM25, the slowest class, is the top eighth of a cycle; p70 falls below
    * it and has ten samples beyond it from five cycles on. */
  val tailPct: Double = 70.0

  private val bulk = s"${c.dir}/bulk"
  private val ingest = s"${c.dir}/ingest"
  private lazy val documents = c.read(s"$src/documents")
  private lazy val orders = c.read(s"$src/orders")
  private lazy val events = c.read(s"$src/events")
  private lazy val parts = c.read(s"$src/part")
  private lazy val docStore = c.read(s"$bulk/docstore")
  private lazy val postings =
    c.readStore(s"${store(last)}/postings")
  private lazy val norms = c.read(s"${store(last)}/norms")

  def generate(): Unit = {
    BulkLoad.generate(c)
    Data.write(Data.orders(c.spark, Data.Seed), s"$src/orders")
    Data.write(Data.events(c.spark, Data.Seed), s"$src/events")
    Data.write(Data.parts(c.spark, c.vocab, c.dataRng(3)), s"$src/part")
  }

  /** The doc store once; each round rebuilds the index. */
  override def prepare(): Unit = BulkLoad.docStore(c, documents, bulk)
  def setup(round: Int): Unit =
    BulkLoad.index(c, documents, store(round), Seq("text", "lang"), None, sketch = false)

  /** Three cycles: after one pass over the classes, request latency still
    * falls by a fifth over the next cycles as the JIT catches up. */
  def warmup(): Unit = {
    val r = c.dataRng(99)
    for (_ <- 0 until 3; cls <- Mix) request(cls, r)
  }

  private val reqRng = c.rng(3)
  def op(i: Int): OpOut = request(Mix(i % Mix.size), reqRng)

  /** Scan search + row-load from `base`; returns the loaded rows. */
  private def searchLoad(df: DataFrame, base: DataFrame, q: String, cfg: IndexConfig,
                         pk: String, hitKey: org.apache.spark.sql.Column): Array[Row] = {
    c.compileProbe(q, cfg, pk, df)
    val hits = tr.frame("search.exec")(Search.search(df, q, cfg, Seq(pk)))
    val rows = tr.collect(tr.frame("search.rowload") {
      Search.loadRows(hits.select(hitKey, col("_score")), base, Seq(pk))
    }.collect())
    tr.hit("search", rows.length)
    rows
  }

  private def request(cls: String, r: java.util.SplittableRandom): OpOut = {
    val v = c.vocab
    cls match {
      case "lucene" =>
        val (t1, t2) = (v.drawIn(r, 1), v.drawIn(r, 2))
        val q = s"text:$t1 AND text:$t2"
        val rows = searchLoad(docStore, documents, q, Cfg, "doc_id",
          col("doc_id").cast("long").as("doc_id"))
        OpOut(cls, q, () => rows.forall { x =>
          val toks = x.getAs[String]("text").split(' ').toSet
          toks(t1) && toks(t2)
        })
      case "dsl_orders" =>
        val lo = 900 + r.nextInt(480000)
        val hi = lo + 20000
        val q = s"""{"query":{"bool":{"must":[{"range":{"o_totalprice":{"gte":$lo,"lt":$hi}}}],
                   "must_not":[{"term":{"o_orderstatus":"F"}}],
                   "should":[{"term":{"o_orderpriority":"1-URGENT"}}]}}}"""
        val rows = searchLoad(orders, orders, q, Cfg, "o_orderkey", col("o_orderkey"))
        val got = rows.map(x => (x.getAs[Double]("o_totalprice"), x.getAs[String]("o_orderstatus")))
        OpOut(cls, q, () => got.nonEmpty &&
          got.forall { case (p, s) => p >= lo && p < hi && s != "F" })
      case "dsl_events" =>
        val et = Data.EventTypes(r.nextInt(Data.EventTypes.length))
        val lo = r.nextInt(950)
        val q = s"""{"query":{"bool":{"must":[{"range":{"value":{"gte":$lo,"lt":${lo + 50}}}},
                   {"term":{"event_type":"$et"}}]}}}"""
        val rows = searchLoad(events, events, q, Cfg, "event_id", col("event_id"))
        val got = rows.map(x => (x.getAs[Double]("value"), x.getAs[String]("event_type")))
        OpOut(cls, q, () => got.nonEmpty &&
          got.forall { case (x, e) => x >= lo && x < lo + 50 && e == et })
      case "prefix_part" =>
        // a one-letter prefix matches thousands of parts, like the
        // reference's recorded wildcard search (18,188 matches)
        val pre = v.words(r.nextInt(v.words.length)).take(1)
        val q = s"p_name:$pre*"
        val rows = searchLoad(parts, parts, q, Cfg, "p_partkey", col("p_partkey"))
        val got = rows.map(_.getAs[String]("p_name"))
        OpOut(cls, q, () => got.nonEmpty && got.forall(_.split(' ').exists(_.startsWith(pre))))
      case "pure_index" =>
        val (t1, t2) = (v.drawIn(r, 2), v.drawIn(r, 3))
        val q = s"#options:load-rows=false#text:$t1 OR text:$t2"
        val got = tr.collect(scored(tr.frame("textindex.serve") {
          TextIndex.searchIndexed(documents, postings, q, Cfg, Seq("doc_id"),
            Set("text", "lang"), Buckets, pureIndex = true)
        }))
        tr.hit("textindex", got.size)
        OpOut(cls, q, () => got == memo(q)(scored(Search.search(documents, q, Cfg,
          Seq("doc_id")))))
      case "bm25" =>
        val terms = Seq(v.drawIn(r, 1), v.drawIn(r, 3))
        val got = tr.collect(top(tr.frame("textindex.serve") {
          topK(TextIndex.bm25Indexed(postings, norms, "text", terms, nBuckets = Buckets))
        }))
        tr.hit("textindex", got.size)
        val key = s"bm25 ${terms.mkString(" ")}"
        OpOut(cls, key, () => got == memo(key)(
          top(topK(Search.bm25(documents, "text", terms).where(col("_bm25") > 0)))))
      case "agg_terms" =>
        val t = v.drawIn(r, 1)
        val body = s"""{"query":{"match":{"text":"$t"}},
                      "aggs":{"by_lang":{"terms":{"field":"lang","size":10}}}}"""
        val got = tr.collect(buckets(tr.frame("aggs.exec")(Aggs.runSingle(docStore, body))))
        OpOut(cls, body, () => got == memo(body)(buckets(docStore
          .where(array_contains(split(col("text"), " "), t))
          .groupBy(col("lang").as("key")).agg(count(lit(1)).as("doc_count")))))
      case "agg_date" =>
        val et = Data.EventTypes(r.nextInt(Data.EventTypes.length))
        val body = s"""{"query":{"term":{"event_type":"$et"}},
                      "aggs":{"per_day":{"date_histogram":{"field":"ts","calendar_interval":"day"},
                      "aggs":{"total_value":{"sum":{"field":"value"}}}}}}"""
        val got = tr.collect(buckets(tr.frame("aggs.exec")(Aggs.runSingle(events, body))))
        OpOut(cls, body, () => got == memo(body)(buckets(events.where(col("event_type") === et)
          .groupBy(date_trunc("day", col("ts")).as("key")).agg(count(lit(1)).as("doc_count")))))
    }
  }

  private val expected = scala.collection.concurrent.TrieMap[String, Any]()
  /** A check's reference answer, computed once per distinct request (checks
    * run concurrently). */
  private def memo[T](key: String)(reference: => T): T =
    expected.getOrElseUpdate(key, reference).asInstanceOf[T]

  override def finish(): Unit = if (c.opts.trace) {
    BulkLoad.run(c, ingest)
    BulkLoad.index(c, c.read(s"$ingest/curated"), ingest, Seq("text", "lang"), None,
      sketch = false)
  }
  override def finalChecks(): (Int, Int) =
    if (c.opts.trace) (1, if (BulkLoad.check(c, ingest, ingest)) 0 else 1) else (0, 0)

  def storeBytes: Long = Files.bytes(s"$bulk/docstore") + BulkLoad.indexBytes(store(last))
  def inputBytes: Long = Files.bytes(s"$src/documents")

  def liveRowRatio: Double = {
    val all = postings.count()
    postings.join(norms.select("doc_id").distinct(), Seq("doc_id"), "left_semi").count()
      .toDouble / all
  }
}

object Serve {
  val Buckets: Int = BulkLoad.Buckets
  /** One request of each class: the reference records no traffic mix, so
    * no class is weighted above another. */
  val Mix: IndexedSeq[String] = IndexedSeq("lucene", "pure_index", "dsl_orders", "bm25",
    "prefix_part", "agg_terms", "dsl_events", "agg_date")
  /** The engine's defaults, whose 10,000-row result cap is the reference's. */
  val Cfg: IndexConfig = IndexConfig()

  /** BM25 top-10, ties broken by id on the rounded score. */
  def topK(df: DataFrame): DataFrame = {
    val s = round(col("_bm25"), 6)
    df.orderBy(s.desc, col("doc_id")).limit(10)
  }
  def top(df: DataFrame): Seq[(String, Double)] =
    df.select(col("doc_id").cast("string"), round(col("_bm25"), 4)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSeq
  def scored(df: DataFrame): Set[(String, Double)] =
    df.select(col("doc_id").cast("string"), round(col("_score").cast("double"), 6)).collect()
      .map(r => (r.getString(0), r.getDouble(1))).toSet
  def buckets(df: DataFrame): Set[(String, Long)] =
    df.select(col("key").cast("string"), col("doc_count").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
}
