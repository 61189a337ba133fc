package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.SplittableRandom
import java.util.concurrent.Executors

import scala.collection.mutable.ArrayBuffer
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.{IndexConfig, QueryCompiler, QueryMeta}

final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean,
                      work: String, data: String, out: String)

/** One timed operation's outcome. `check` runs after the timed phase and
  * returns false when the operation's output is wrong. */
final case class OpOut(cls: String, key: String, check: () => Boolean)

/** What every workload shares: the session, the options, the tracer and
  * the seeded random streams. */
final class Ctx(val spark: SparkSession, val opts: Opts, val tracer: Tracer) {
  val dir: String = s"${opts.work}/run"
  /** Generated tables, kept across runs of the workload. */
  val data: String = opts.data
  val vocab: Vocab = Data.vocab(Data.Seed)
  /** Independent stream `k` of the run's seed: requests, batches, ids. */
  def rng(k: Int): SplittableRandom = new SplittableRandom(opts.seed * 1000003L + k)
  /** Independent stream `k` of the fixed data seed: tables and warm-up. */
  def dataRng(k: Int): SplittableRandom = new SplittableRandom(Data.Seed * 1000003L + k)
  def read(path: String): DataFrame = tracer.span("spark.read")(spark.read.parquet(path))
  /** A partitioned store, read with its partition columns. */
  def readStore(path: String): DataFrame =
    tracer.span("spark.read")(spark.read.option("basePath", path).parquet(path))

  /** Query parse + compile timed as their own layer (traced ops only; the
    * engine repeats this inside the search call that follows). */
  def compileProbe(q: String, cfg: IndexConfig, pk: String, df: DataFrame): Unit =
    tracer.probe("query.compile") {
      QueryMeta.parse(q)
      QueryCompiler.compile(q, cfg.maxResults, pk, cfg.defaultOperator, df.schema)
    }
}

/** A workload: inputs, a set-up unit run several times, and one timed op. */
trait Workload {
  /** Ops in one pass over the workload's fixed request mix. The timed phase
    * runs whole cycles, so every run asks the same mix of classes. Traced
    * runs alternate cycles with and without tracing. */
  def cycle: Int
  /** Percentile reported as `op_tail_ms`: fixed per workload, and chosen so
    * that at least ten samples of a run lie beyond it. */
  def tailPct: Double
  /** Write the seeded inputs under [[Ctx.data]]. Not part of set-up time. */
  def generate(): Unit
  /** One-time set-up before the repeated unit (counted once in set-up time). */
  def prepare(): Unit = ()
  /** One set-up unit (store builds); `round` numbers fresh directories. */
  def setup(round: Int): Unit
  def warmup(): Unit
  /** Untimed preparation of op `i` (e.g. writing its input batch). */
  def before(i: Int): Unit = ()
  def op(i: Int): OpOut
  /** End-of-run work after the timed phase (maintenance), untimed. */
  def finish(): Unit = ()
  /** Checks that span the whole run: (attempted, failed). */
  def finalChecks(): (Int, Int) = (0, 0)
  def storeBytes: Long
  def inputBytes: Long
  /** Workload-specific figures written to the run's detail file. */
  def detail: Map[String, Double] = Map.empty
  /** Live postings rows over all postings rows at the end of the run. */
  def liveRowRatio: Double
}

object Main {
  def main(args: Array[String]): Unit = {
    val bootS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val opts = parse(args)
    val work = new File(opts.work)
    work.mkdirs()
    val t0 = System.nanoTime()
    val spark = session(opts)
    val tracer = new Tracer(spark, opts.trace)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val ctx = new Ctx(spark, opts, tracer)
    Files.rm(new File(ctx.dir))
    val w: Workload = opts.workload match {
      case "serve_mix" => new Serve(ctx)
      case "mutate_mix" => new Mutate(ctx)
      case other => sys.error(s"unknown workload $other")
    }
    try run(ctx, w, bootS, sessionS) finally spark.stop()
  }

  private def run(c: Ctx, w: Workload, bootS: Double, sessionS: Double): Unit = {
    val tr = c.tracer
    val g0 = System.nanoTime()
    tr.active = false
    val done = new File(s"${c.data}/_done")
    if (!done.exists) { Files.rm(new File(c.data)); w.generate(); Files.write(done.getPath, "") }
    val genS = (System.nanoTime() - g0) / 1e9
    tr.active = c.opts.trace
    val p0 = System.nanoTime()
    w.prepare()
    val prepS = (System.nanoTime() - p0) / 1e9
    val rounds = (0 until 3).map { r =>
      val s = System.nanoTime(); w.setup(r); (System.nanoTime() - s) / 1e9
    }
    val wu0 = System.nanoTime()
    w.warmup()
    val warmS = (System.nanoTime() - wu0) / 1e9
    val setupS = bootS + sessionS + prepS + Stats.median(rounds) + warmS
    System.err.println(f"[perfbench] boot $bootS%.2fs session $sessionS%.2fs gen $genS%.2fs " +
      f"prepare $prepS%.2fs " +
      s"rounds ${rounds.map(x => f"$x%.2f").mkString(",")} warmup ${f"$warmS%.2f"}s")

    // timed phase: one closed-loop client, next op only after the last one;
    // whole cycles only, and enough ops that ten lie beyond the tail
    final case class Rec(i: Int, cls: String, key: String, ms: Double, traced: Boolean,
                         ok: Boolean, check: () => Boolean, request: Long)
    val recs = ArrayBuffer[Rec]()
    val deadline = System.nanoTime() + c.opts.seconds * 1000000000L
    val minOps = Stats.minSamples(w.tailPct)
    val phase0 = System.nanoTime()
    var i = 0
    while (System.nanoTime() < deadline || i < minOps || i % w.cycle != 0) {
      tr.active = false
      w.before(i)
      tr.active = c.opts.trace && (i / w.cycle) % 2 == 0
      val req = tr.newRequest()
      val s = System.nanoTime()
      val out = try Some(tr.span("bench.op")(w.op(i))) catch {
        case e: Exception =>
          System.err.println(s"[perfbench] op $i failed: $e"); e.printStackTrace(); None
      }
      val ms = (System.nanoTime() - s) / 1e6
      recs += Rec(i, out.map(_.cls).getOrElse("?"), out.map(_.key).getOrElse(""), ms,
        tr.active, out.isDefined, out.map(_.check).getOrElse(() => false), req)
      i += 1
    }
    val phaseS = (System.nanoTime() - phase0) / 1e9
    tr.active = c.opts.trace
    tr.newRequest() // spans after the timed phase belong to no op
    val f0 = System.nanoTime()
    w.finish()

    // output checks, after the timed phase so they never count as latency;
    // they are independent of each other, so they run on a few threads
    val c0 = System.nanoTime()
    val pool = Executors.newFixedThreadPool(Runtime.getRuntime.availableProcessors())
    val (passed, (extraAttempted, extraFailed)) = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val whole = Future(w.finalChecks())
      val ops = Future.traverse(recs.toSeq)(r => Future(r.ok && (try r.check() catch {
        case e: Exception => System.err.println(s"[perfbench] check ${r.i} failed: $e"); false
      })))
      Await.result(ops.zip(whole), Duration.Inf)
    } finally pool.shutdown()
    recs.zip(passed).filterNot(_._2).foreach { case (r, _) =>
      System.err.println(s"[perfbench] op ${r.i} (${r.cls} ${r.key}) failed its check")
    }
    System.err.println(f"[perfbench] timed $phaseS%.2fs ops ${recs.size}; finish " +
      f"${(c0 - f0) / 1e9}%.2fs checks ${(System.nanoTime() - c0) / 1e9}%.2fs")
    val attempted = recs.size + extraAttempted
    val failed = passed.count(!_) + extraFailed
    val good = recs.zip(passed).collect { case (r, true) => r.ms }.toSeq
    val tail = Stats.percentile(good, w.tailPct)
    val beyond = good.count(_ > tail)

    val detail = ArrayBuffer[(String, Double)](
      "boot_s" -> bootS, "session_s" -> sessionS, "generate_s" -> genS, "prepare_s" -> prepS,
      "setup_round_median_s" -> Stats.median(rounds), "warmup_s" -> warmS,
      "timed_phase_s" -> phaseS, "ops" -> recs.size.toDouble,
      "tail_percentile" -> w.tailPct, "samples_beyond_tail" -> beyond.toDouble,
      "cycles" -> (recs.size / w.cycle).toDouble, "store_bytes" -> w.storeBytes.toDouble,
      "input_bytes" -> w.inputBytes.toDouble)
    for ((cls, rs) <- recs.zip(passed).filter(_._2).map(_._1).groupBy(_.cls).toSeq.sortBy(_._1)) {
      detail += s"class.$cls.count" -> rs.size.toDouble
      detail += s"class.$cls.p50_ms" -> Stats.median(rs.map(_.ms).toSeq)
    }
    detail ++= w.detail

    if (c.opts.trace) org.apache.spark.perfbench.Drain(c.spark.sparkContext)
    val metrics: Seq[(String, Double, String)] =
      if (!c.opts.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_ms", Stats.median(good), "ms"),
        ("op_tail_ms", tail, "ms"),
        ("ops_per_s", good.size / (good.sum / 1000.0), "1/s"),
        ("store_bytes_per_input_byte", w.storeBytes.toDouble / w.inputBytes, "ratio"))
      else Layers.metrics(tr, recs.map(r => (r.request, r.ms, r.traced, r.cls)).toSeq,
        w.liveRowRatio, detail)

    val json = Json.obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(u)))
      }),
      "detail" -> Json.obj(detail.toSeq.map { case (k, v) => k -> Json.num(v) })))
    // a run with failed ops is reported (as incorrect) even when its tail
    // is short of samples; a correct run must resolve its tail
    if (!c.opts.trace && failed == 0 && beyond < 10)
      throw new IllegalStateException(s"only $beyond samples lie beyond p${w.tailPct}: " +
        "the tail is not resolved, so no result is reported")
    Files.write(c.opts.out, json + "\n")
    if (c.opts.trace) Layers.writeSpans(tr, s"${c.opts.work}/spans.jsonl")
  }

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), need("data"), need("out"))
  }

  private def session(o: Opts): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${o.work}/tmp")
    val s = (if (o.trace) b.config("spark.hadoop.fs.file.impl", classOf[CountingLocalFs].getName)
             else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    if (o.trace) s.sparkContext.addSparkListener(new SpanListener)
    s.range(1).count()
    s
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50)
  /** Fewest samples that put ten beyond percentile `p`. */
  def minSamples(p: Double): Int = math.ceil(10 / (1 - p / 100) + 1).toInt
  /** Linear interpolation between closest ranks. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = (s.size - 1) * p / 100.0
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

object Files {
  def rm(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(rm))
    f.delete(): Unit
  }
  /** Bytes of the data files under `path` (sidecars and checksums excluded). */
  def bytes(path: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) 0L
      else f.length
    walk(new File(path))
  }
  /** Data file path -> size under `root`, to see what a commit added. */
  def listing(root: String): Map[String, Long] = {
    def walk(f: File): Seq[(String, Long)] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.startsWith(".") || f.getName.startsWith("_")) Nil
      else Seq(f.getPath -> f.length)
    walk(new File(root)).toMap
  }
  def write(path: String, s: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, s.getBytes("UTF-8")): Unit
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else if (d == math.rint(d) && math.abs(d) < 1e15) d.toLong.toString
    else d.toString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}
