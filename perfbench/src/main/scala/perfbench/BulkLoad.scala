package perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.{IndexConfig, Indexer, TextIndex}
import graft.functions.TextSketchFunctions.{minhash_sig, word_shingles}
import graft.pipeline.{Curate, Dedup}

/** The bulk (re)index job a traced serve_mix run measures. [[run]] curates
  * the raw documents (near-dup removal, quality gate, decontamination
  * against a benchmark slice), dedups the embeddings semantically, writes
  * the survivors' MinHash sketch store, projects them
  * into a doc store segmented by source and exports that as ES bulk NDJSON.
  * [[index]] builds postings and norms (and optionally the sketch store)
  * over a corpus; both workloads use it. */
object BulkLoad {
  val Buckets = 16

  /** 5,000 raw documents and 2,000 embeddings. */
  def generate(c: Ctx): Unit = {
    Data.write(Data.docFrame(c.spark, Data.documents(c.vocab, c.dataRng(1), 5000)),
      s"${c.data}/documents")
    Data.write(Data.embeddings(c.spark, c.dataRng(2)), s"${c.data}/embeddings")
  }

  /** Runs the job into `root`, except postings and norms, which [[index]]
    * builds from `root/curated`. */
  def run(c: Ctx, root: String): Unit = {
    val tr = c.tracer
    val raw = c.read(s"${c.data}/documents")
    val curated = tr.frame("pipeline.curate") {
      Curate.curateCorpus(raw.where(col("doc_id") % 50 =!= 0), raw.where(col("doc_id") % 50 === 0),
        "text", "doc_id", minTokens = 20, maxMeanTokLen = 8.0, minStopwordRatio = 0.0, n = 8)
    }
    tr.span("spark.write")(curated.write.parquet(s"$root/curated"))
    val vectors = tr.frame("pipeline.semantic_dedup") {
      Dedup.semanticDedup(c.read(s"${c.data}/embeddings"), "vec_id", "embedding", "label", 0.3)
    }
    tr.span("spark.write")(vectors.where(!col("is_dup")).write.parquet(s"$root/vectors"))

    val cur = c.read(s"$root/curated")
    sketchStore(c, cur, root)
    docStore(c, cur, root)
    val bulk = tr.frame("indexer.bulk_ndjson") {
      Indexer.toBulkNdjson(c.read(s"$root/docstore").drop("segment"), "documents@")
    }
    tr.span("spark.write")(bulk.select("bulk").write.text(s"$root/bulk"))
  }

  /** `docs` projected into a doc store under `root`, segmented by source. */
  def docStore(c: Ctx, docs: DataFrame, root: String): Unit = {
    val tr = c.tracer
    val projected = tr.frame("indexer.build_docs") {
      Indexer.buildDocs(docs.withColumn("segment", col("source")), Seq("doc_id"), Nil,
        IndexConfig(indexationDate = false), Data.Now)
    }
    tr.span("indexer.write_segmented")(Indexer.writeSegmented(projected, s"$root/docstore"))
  }

  /** Postings and norms of `docs` under `root`, and with `sketch` the
    * MinHash sketch store; with `gen` set, postings and norms rows carry
    * that generation stamp. */
  def index(c: Ctx, docs: DataFrame, root: String, fields: Seq[String], gen: Option[Long],
            sketch: Boolean): Unit = {
    val tr = c.tracer
    def stamp(df: DataFrame) = gen.fold(df)(g => df.withColumn("gen", lit(g)))
    tr.span("textindex.build_postings") {
      TextIndex.writePostings(stamp(TextIndex.buildPostings(docs, "doc_id", fields, Buckets)),
        s"$root/postings")
    }
    tr.span("textindex.build_norms") {
      stamp(TextIndex.buildNorms(docs, "doc_id", Seq("text"))).write.parquet(s"$root/norms")
    }
    if (sketch) sketchStore(c, docs, root)
  }

  /** The MinHash sketch store, written by the engine. Traced runs also
    * time the text kernels on their own over the same column (detail only:
    * the store write repeats this work inside its span). */
  def sketchStore(c: Ctx, docs: DataFrame, root: String): Unit = {
    val tr = c.tracer
    tr.span("pipeline.sketch_store")(Dedup.writeSketchStore(docs, s"$root/sketch", "text", "doc_id"))
    if (tr.active) {
      val shingles = tr.frame("functions.tokenize") {
        docs.select(col("doc_id").as("id"), word_shingles(Dedup.tokens(col("text")), 3).as("sh"))
      }
      tr.frame("functions.minhash")(shingles.withColumn("sig", minhash_sig(col("sh"), 32))): Unit
    }
  }

  def indexBytes(root: String): Long =
    Seq("postings", "norms").map(s => Files.bytes(s"$root/$s")).sum

  private val DocFields = StructType(Seq(StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** The exported NDJSON parses back to the doc store, and the postings and
    * norms under `index` cover exactly the curated survivors. */
  def check(c: Ctx, root: String, index: String): Boolean = {
    val lines = "split(value, '\\n')"
    val records = c.spark.read.option("wholetext", "true").text(s"$root/bulk")
      .where(length(col("value")) > 0)
      .select(explode(expr(s"transform(sequence(0, size($lines) div 2 - 1), " +
        s"i -> concat($lines[2 * i], '\\n', $lines[2 * i + 1]))")).as("bulk"))
    val parsed = Indexer.fromBulkNdjson(records, DocFields)
      .select("doc_id", DocFields.fieldNames.toIndexedSeq: _*)
    val store = c.read(s"$root/docstore").drop("segment").select(parsed.columns.map(col): _*)
    val survivors = c.read(s"$root/curated").count()
    val postingsDocs = c.readStore(s"$index/postings").select("doc_id").distinct().count()
    val ok = parsed.count() == survivors && store.count() == survivors &&
      parsed.exceptAll(store).isEmpty &&
      postingsDocs == survivors &&
      c.read(s"$index/norms").count() == survivors
    if (!ok) System.err.println(s"[perfbench] bulk load check failed under $root")
    ok
  }
}
