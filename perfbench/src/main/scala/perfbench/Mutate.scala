package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{Aggs, IndexConfig, Search, TextIndex}
import graft.pipeline.Dedup

/** mutate_mix: writes beside reads. A cycle is one commit op, which applies
  * a small seeded mutation batch (edits, inserts, deletes) to the postings,
  * norms and MinHash sketch stores and reopens them, then the reads of
  * [[Mutate.ReadMix]] against the mutated stores, each timed as its own op. The postings
  * store is generation-stamped, so every commit adds a generation of small
  * files that later reads merge, until the run ends with compaction and a
  * dead-postings purge. */
final class Mutate(c: Ctx) extends Workload {
  import Mutate._
  private val tr = c.tracer
  private def store(r: Int) = s"${c.dir}/stores/r$r"
  private val log = s"${c.dir}/log"

  val cycle: Int = 1 + ReadMix.size
  /** The highest percentile with ten samples beyond it in four cycles. In
    * the latency order of a cycle's ops (4 scan searches and aggregations,
    * 2 indexed searches, 3 BM25 reads, 1 commit) p50 falls inside the
    * indexed-search block and p70 inside the BM25 block, each a few samples
    * from a class boundary. */
  val tailPct: Double = 70.0

  /** The primary store (the reference's Cassandra table), kept by the
    * benchmark: the index is what is under test. */
  private var corpus: Map[Long, Doc] = Map.empty
  private var nextId = 0L
  private var deleted = Set.empty[Long]
  private val batchBytes = ArrayBuffer[Long]()
  private val commitMs = ArrayBuffer[Double]()
  private var bytesWritten = 0L
  private var stores = store(2)
  /** Readers of the stores as of the last commit. */
  private var postings, norms, primary: DataFrame = _

  def generate(): Unit = {
    val docs = Data.documents(c.vocab, c.dataRng(1), 5000)
    Data.write(Data.docFrame(c.spark, docs), s"${c.data}/documents")
  }

  /** Postings and norms stamped with generation 0, and the sketch store. */
  def setup(round: Int): Unit =
    BulkLoad.index(c, c.read(s"${c.data}/documents"), store(round), Seq("text"), Some(0L),
      sketch = true)

  /** Loads the corpus, then commits one batch to round 0's stores, reads
    * them once per read class and restores the corpus. */
  def warmup(): Unit = {
    corpus = c.read(s"${c.data}/documents").collect().map { r =>
      r.getAs[Long]("doc_id") -> Doc(r.getAs[Long]("doc_id"), r.getAs[String]("text"),
        r.getAs[String]("lang"), r.getAs[String]("source"))
    }.toMap
    nextId = FirstInsertId
    val (saved, savedNext) = (corpus, nextId)
    stores = store(0)
    val r = c.dataRng(99)
    for (j <- 0 to ReadMix.distinct.size) { prepare(-1, j, r); run(-1, j, r): Unit }
    corpus = saved; nextId = savedNext; deleted = Set.empty
    batchBytes.clear(); commitMs.clear(); bytesWritten = 0L
    stores = store(2)
  }

  private val rng = c.rng(3)
  override def before(i: Int): Unit = prepare(i / cycle, i % cycle, rng)
  def op(i: Int): OpOut = run(i / cycle, i % cycle, rng)

  private def prepare(k: Int, j: Int, r: java.util.SplittableRandom): Unit = {
    if (j == 1) recordCommitFiles(k)
    if (j == 0) batch(k, r)
  }
  private def run(k: Int, j: Int, r: java.util.SplittableRandom): OpOut =
    if (j == 0) commitOp(k) else read(ReadMix(j - 1), r)

  /** Writes batch `k` to the mutation log, applies it to the primary store
    * and writes that out; the timed commit then reads the log. */
  private def batch(k: Int, r: java.util.SplittableRandom): Unit = {
    val live = corpus.keys.toIndexedSeq.sorted
    val pickIds = new scala.util.Random(r.nextLong()).shuffle(live).take(Edits + Deletes)
    val edits = pickIds.take(Edits).map(id => corpus(id).copy(
      text = Data.text(c.vocab, r, 25 + r.nextInt(66))))
    val inserts = Data.documents(c.vocab, r, Inserts, nextId)
    val dels = pickIds.drop(Edits)
    nextId += Inserts
    val upserts = edits ++ inserts
    val dir = s"$log/b$k"
    Data.write(Data.docFrame(c.spark, upserts), s"$dir/upserts")
    Data.write(c.spark.createDataFrame(dels.map(Tuple1(_))).toDF("doc_id"), s"$dir/deletes")
    corpus = corpus -- dels ++ upserts.map(d => d.id -> d)
    deleted ++= dels
    Data.write(Data.docFrame(c.spark, corpus.values.toSeq.sortBy(_.id)), s"$dir/primary")
    if (k >= 0) batchBytes += Files.bytes(s"$dir/upserts")
    batchIds = upserts.map(_.id).toSet
    listed = Files.listing(stores)
  }
  private var listed = Map.empty[String, Long]
  private var batchIds = Set.empty[Long]

  /** Files the last commit added to the stores (read before the next op). */
  private def recordCommitFiles(k: Int): Unit = {
    val after = Files.listing(stores)
    val added = (after.keySet -- listed.keySet).toSeq
    tr.note("commits", 1)
    tr.note("commit.files_added", added.size)
    tr.note("commit.bytes_written", added.map(after).sum.toDouble)
    if (k >= 0) bytesWritten += added.map(after).sum
  }

  /** Submit the batch; on return it is durable and the stores are reopened,
    * so it is visible to the next read. */
  private def commitOp(k: Int): OpOut = {
    val t0 = System.nanoTime()
    val dir = s"$log/b$k"
    val gen = k + 2L
    val ups = c.read(s"$dir/upserts")
    val dels = c.read(s"$dir/deletes")
    tr.span("textindex.append") {
      TextIndex.appendPostings(ups, "doc_id", Seq("text"), s"$stores/postings", Buckets,
        gen = Some(gen))
    }
    tr.span("textindex.norms_upsert") {
      TextIndex.upsertNorms(ups, "doc_id", Seq("text"), s"$stores/norms", gen = Some(gen))
    }
    tr.span("textindex.delete")(TextIndex.deleteDocs(c.spark, s"$stores/norms", dels))
    tr.span("pipeline.sketch_delete") {
      Dedup.deleteFromSketchStore(c.spark, s"$stores/sketch",
        ups.select("doc_id").union(dels.select("doc_id")), "doc_id")
    }
    val pairs = tr.collect(tr.frame("pipeline.sketch_append") {
      Dedup.minhashPairsIncremental(c.spark, s"$stores/sketch", ups, "text", "doc_id",
        appendToStore = true)
    }.select("id_a", "id_b").collect()).map(x => (x.getLong(0), x.getLong(1)))
    tr.note("commit.near_dup_pairs", pairs.length.toDouble)
    postings = c.readStore(s"$stores/postings")
    norms = c.read(s"$stores/norms")
    primary = c.read(s"$dir/primary")
    if (k >= 0) commitMs += (System.nanoTime() - t0) / 1e6
    val (ids, live) = (batchIds, corpus.keySet)
    OpOut("commit", s"batch $k", () => pairs.forall { case (a, b) =>
      a < b && (ids(a) || ids(b)) && live(a) && live(b) })
  }

  /** One read of the mutated stores, checked against the primary store as
    * of the last commit. */
  private def read(kind: String, r: java.util.SplittableRandom): OpOut = {
    val v = c.vocab
    val snapshot = corpus
    val gone = deleted
    def has(text: String, t: String) = text.split(' ').contains(t)
    kind match {
      case "bm25" =>
        val terms = Seq(v.drawIn(r, 1), v.drawIn(r, 3))
        val got = tr.collect(Serve.top(tr.frame("textindex.serve") {
          Serve.topK(TextIndex.bm25Indexed(postings, norms, "text", terms, nBuckets = Buckets))
        })).map(_._1.toLong)
        tr.hit("textindex", got.size)
        OpOut(kind, terms.mkString(" "), () =>
          got.nonEmpty && got.forall(id => snapshot.contains(id) && !gone(id)))
      case "indexed" =>
        val (t1, t2) = (v.drawIn(r, 2), v.drawIn(r, 3))
        val q = s"text:$t1 OR text:$t2"
        c.compileProbe(q, Cfg, "doc_id", primary)
        val got = tr.collect(tr.frame("textindex.serve") {
          TextIndex.searchIndexed(primary, postings, q, Cfg, Seq("doc_id"), Set("text"), Buckets)
        }.select("doc_id", "text").collect()).map(x => (x.getLong(0), x.getString(1)))
        tr.hit("textindex", got.length)
        OpOut(kind, q, () =>
          got.forall { case (id, text) =>
            snapshot.get(id).exists(_.text == text) && (has(text, t1) || has(text, t2)) } &&
          got.length == math.min(Cfg.maxResults,
            snapshot.values.count(d => has(d.text, t1) || has(d.text, t2))))
      case "search" =>
        val t = v.drawIn(r, 2)
        val q = s"text:$t"
        c.compileProbe(q, Cfg, "doc_id", primary)
        val hits = tr.frame("search.exec")(Search.search(primary, q, Cfg, Seq("doc_id")))
        val got = tr.collect(tr.frame("search.rowload") {
          Search.loadRows(hits.select(col("doc_id"), col("_score")), primary, Seq("doc_id"))
        }.select("doc_id", "text").collect()).map(x => (x.getLong(0), x.getString(1)))
        tr.hit("search", got.length)
        OpOut(kind, q, () =>
          got.forall { case (id, text) => snapshot.get(id).exists(_.text == text) && has(text, t) } &&
          got.length == snapshot.values.count(d => has(d.text, t)))
      case "agg" =>
        val t = v.drawIn(r, 1)
        val body = s"""{"query":{"match":{"text":"$t"}},
                      "aggs":{"by_lang":{"terms":{"field":"lang","size":10}}}}"""
        val got = tr.collect(Serve.buckets(tr.frame("aggs.exec")(Aggs.runSingle(primary, body))))
        OpOut(kind, body, () => got.toSeq.map(_._2).sum == snapshot.values.count(d => has(d.text, t)))
    }
  }

  private var liveRatio = 1.0

  /** Compaction and dead-postings purge, after the live-row ratio they
    * restore is recorded. */
  override def finish(): Unit = {
    if (c.opts.trace) liveRatio = liveRows()
    val before = Files.bytes(s"$stores/postings")
    val t0 = System.nanoTime()
    tr.span("maintain.compact")(TextIndex.compactPostings(c.spark, s"$stores/postings"))
    tr.span("maintain.purge") {
      TextIndex.purgeDeadPostings(c.spark, s"$stores/postings", s"$stores/norms")
    }
    finishS = (System.nanoTime() - t0) / 1e9
    rewritten = Files.bytes(s"$stores/postings")
    postingsBefore = before
  }
  private var finishS = 0.0
  private var rewritten = 0L
  private var postingsBefore = 0L

  /** Postings rows whose generation is their doc's current one. */
  private def liveRows(): Double = {
    val p = c.readStore(s"$stores/postings")
    val n = c.read(s"$stores/norms").select(col("doc_id"), col("gen").as("_ngen"))
    p.join(n, "doc_id").where(col("gen") === col("_ngen")).count().toDouble / p.count()
  }

  /** BM25 served from the maintained stores equals a from-scratch build over
    * the final corpus; the sketch store holds exactly the live docs. */
  override def finalChecks(): (Int, Int) = {
    val fin = s"${c.dir}/final"
    Data.write(Data.docFrame(c.spark, corpus.values.toSeq.sortBy(_.id)), s"$fin/docs")
    val docs = c.read(s"$fin/docs")
    TextIndex.writePostings(TextIndex.buildPostings(docs, "doc_id", Seq("text"), Buckets),
      s"$fin/postings")
    TextIndex.buildNorms(docs, "doc_id", Seq("text")).write.parquet(s"$fin/norms")
    def top(root: String, terms: Seq[String]) = Serve.top(Serve.topK(TextIndex.bm25Indexed(
      c.readStore(s"$root/postings"),
      c.read(s"$root/norms"), "text", terms, nBuckets = Buckets)))
    val r = c.rng(7)
    val queries = Seq.fill(2)(Seq(c.vocab.draw(r), c.vocab.draw(r)).distinct)
    val bm25Ok = queries.forall(terms => top(stores, terms) == top(fin, terms))
    val sketch = c.read(s"$stores/sketch")
    val sketchOk = sketch.count() == corpus.size &&
      sketch.select("id").distinct().count() == corpus.size
    if (!bm25Ok) System.err.println("[perfbench] final BM25 differs from a rebuild")
    if (!sketchOk) System.err.println("[perfbench] sketch store does not hold the live docs")
    (2, Seq(bm25Ok, sketchOk).count(!_))
  }

  def storeBytes: Long = Seq("postings", "norms", "sketch").map(s => Files.bytes(s"$stores/$s")).sum
  def inputBytes: Long = Files.bytes(s"${c.data}/documents") + batchBytes.sum
  def liveRowRatio: Double = liveRatio

  override def detail: Map[String, Double] = Map(
    "commits" -> commitMs.size.toDouble,
    "commit_p50_ms" -> Stats.median(commitMs.toSeq),
    "commit_max_ms" -> commitMs.max,
    "compact_purge_s" -> finishS,
    "postings_bytes_before_compact" -> postingsBefore.toDouble,
    "postings_bytes_after_compact" -> rewritten.toDouble,
    "write_bytes_per_mutated_byte" -> (bytesWritten + rewritten).toDouble / batchBytes.sum)
}

object Mutate {
  val Buckets: Int = BulkLoad.Buckets
  val FirstInsertId = 1000000L
  /** A small batch per commit: the reference indexes each mutation as it
    * is written (single-document sync upserts), and a commit's cost here
    * barely depends on its size. */
  val Edits = 4
  val Inserts = 4
  val Deletes = 2
  /** Reads after each commit: verified indexed search, scan search +
    * row-load and a terms aggregation twice each, and BM25 top-10 three
    * times (see `tailPct`). */
  val ReadMix: IndexedSeq[String] = IndexedSeq("bm25", "indexed", "search", "agg",
    "bm25", "indexed", "search", "agg", "bm25")
  val Cfg: IndexConfig = IndexConfig()
}
