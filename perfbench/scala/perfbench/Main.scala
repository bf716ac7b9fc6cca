package perfbench

import graft.analysis.{Analyzer, AnalyzerConfig}
import graft.api.{ParamFile, SearchEngine}
import graft.exec.IndriBlockMax
import graft.index.{Index, IndexBuilder, IndexConfig, IndexStore}
import graft.model._
import graft.ops.{Dedup, Similarity}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** One benchmark run: one workload, one seed, one measuring window.
  *
  *   perfbench.Main --workload <serve|dedup> --seed <n> --seconds <s>
  *     --trace <0|1> --work <dir> [--expect-digest <hex>] [--trace-out <jsonl>]
  *
  * Prints one JSON line: correct/attempted/failed, the metrics (end-to-end
  * with --trace 0, end-to-end and per-layer with --trace 1) and an `info`
  * object (load probe, sizes, tail latency, output digest).
  *
  * Each workload repeats its unit of work (a serving round, a dedup pass)
  * until --seconds have passed, at least once. */
object Main {
  type Ranked = Seq[(Long, String, Int, Double)]

  val Fields = Seq("body", "title", "url", "inlink", "keywords")
  val Cfg: AnalyzerConfig = AnalyzerConfig.code
  val K = 100
  val Models: Map[String, RetrievalModel] = Map(
    "bm25" -> BM25(1.2f, 0.75f, 0f), "indri" -> Indri(2500f, 0.4f),
    "boolean" -> RankedBoolean)

  // serve: one round (a searchBatch per family, then every query
  // serially) over an 8,000-doc index takes about 25 s on 4 cores. The
  // BM25 batch fills searchBatch's pool of eight threads.
  val ServeDocs = 8000
  val BowQueries = 8
  val IndriQueries = 4
  val BoolQueries = 2
  val RepeatShare = 0.25
  val LoadReps = 3

  // dedup: one pass takes about seven seconds on 4 cores
  val DedupDocs = 200
  val DedupVecs = 1000
  val TextDupShare = 0.05
  val TextNearShare = 0.1
  val VecDupShare = 0.05
  val JaccardThreshold = 0.6
  val CosineThreshold = 0.9

  final case class Opts(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, work: Path,
                        expectDigest: Option[String], traceOut: Option[Path])

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val o = Opts(kv("--workload"), kv("--seed").toLong, kv("--seconds").toDouble,
      kv.getOrElse("--trace", "0") == "1", Paths.get(kv("--work")),
      kv.get("--expect-digest"), kv.get("--trace-out").map(Paths.get(_)))
    require(Set("serve", "dedup")(o.workload), s"unknown workload ${o.workload}")
    println(new Run(o).run())
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, secs(t0))
  }

  def sha256(lines: Iterator[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    lines.foreach(l => md.update((l + "\n").getBytes(UTF_8)))
    md.digest().map("%02x".format(_)).mkString
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
      .map("%02x".format(_)).mkString

  def bits(d: Double): Long = java.lang.Double.doubleToLongBits(d)

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }

  /** Fixed CPU loop; its time flags a sample taken on a loaded machine. */
  def calibrate(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var i = 0
    while (i < 30000000) { x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1 }
    if (x == 42L) System.err.println("")
    secs(t0)
  }

  /** The CPU loop plus a pass over 32 MB, on `threads` threads at once. A
    * machine whose other tenants share its cores or memory bandwidth slows
    * this while the one-thread loop reads as usual. */
  def calibrateParallel(threads: Int): Double = {
    val t0 = System.nanoTime()
    val ts = (0 until threads).map { _ =>
      val t = new Thread(() => {
        calibrate()
        val a = new Array[Long](1 << 22)
        var sum = 0L
        for (_ <- 0 until 4) {
          var j = 0
          while (j < a.length) { a(j) += j; sum += a(j); j += 8 }
        }
        if (sum == 42L) System.err.println("")
      })
      t.start(); t
    }
    ts.foreach(_.join())
    secs(t0)
  }

  def loadAvg(): Double =
    new String(Files.readAllBytes(Paths.get("/proc/loadavg")), UTF_8)
      .split(" ")(0).toDouble

  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
    finally src.close()
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString
}

final class Run(o: Main.Opts) {
  import Main._

  private val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private def check(ok: Boolean, what: => String): Unit = if (!ok) {
    failed += 1
    System.err.println(s"[perfbench] check failed: $what")
  }
  private def metric(name: String, v: Double, unit: String): Unit =
    metrics(name) = (v, unit)

  private val started = System.nanoTime()
  /** Seconds since start at each phase boundary, for the run's timeline. */
  private def mark(phase: String): Unit = info(s"at_$phase") = num(secs(started))

  private val inputs = new Inputs(o.seed)
  private var spark: SparkSession = _
  private var tr: Tracer = _

  def run(): String = {
    Files.createDirectories(o.work)
    info("load_before") = num(loadAvg())
    info("calib_before_s") = num(calibrate())
    val cores = Runtime.getRuntime.availableProcessors()
    info("calib_all_before_s") = num(calibrateParallel(cores))
    val (_, sessionS) = timed {
      spark = SparkSession.builder().appName("perfbench")
        .master(s"local[$cores]")
        // Main's session settings
        .config("spark.sql.shuffle.partitions", cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "2")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
        // traced runs only: task metrics list the cached blocks each task
        // wrote (spark.cache_block_writes_per_query)
        .config("spark.taskMetrics.trackUpdatedBlockStatuses", o.trace.toString)
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
    }
    info("session_s") = num(sessionS)
    mark("session")
    tr = new Tracer(o.trace, spark.sparkContext)
    try {
      val setupS = o.workload match {
        case "serve" => serve()
        case "dedup" => dedup()
      }
      metric("setup_s", sessionS + setupS, "s")
    } catch {
      case e: Throwable =>
        check(false, s"${e.getClass.getSimpleName}: ${e.getMessage}")
        e.printStackTrace()
    }
    info("peak_rss_mb") = num(peakRssMb())
    info("load_after") = num(loadAvg())
    info("calib_after_s") = num(calibrate())
    info("calib_all_after_s") = num(calibrateParallel(cores))
    if (o.trace) {
      tr.drain()
      o.traceOut.foreach(p => Files.write(p, tr.jsonLines.mkString("\n").getBytes(UTF_8)))
    }
    graft.util.SparkQuiesce.stop(spark)
    mark("stopped")
    output()
  }

  private def output(): String = {
    val m = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}""" }.mkString(",")
    val i = info.map { case (k, v) => s""""$k":$v""" }.mkString(",")
    s"""{"correct":${failed == 0 && attempted > 0},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$m},"info":{$i}}"""
  }

  /** Record the output digest; it must equal the expected one if given. */
  private def recordDigest(d: String): Unit = {
    info("digest") = "\"" + d + "\""
    o.expectDigest.foreach(e => check(e == d, s"${o.workload} digest $d != recorded $e"))
  }

  /** The reference's own memory figure (`Main.printMemoryUsage`): heap in
    * use after a full GC, taken at the end of the window while the
    * workload's state is still live. */
  private def heapAfterGc(): Unit = {
    val rt = Runtime.getRuntime
    def used() = { rt.gc(); (rt.totalMemory() - rt.freeMemory()) / 1048576.0 }
    // collect until the figure settles: Spark's ContextCleaner frees
    // unpersisted blocks and shuffles only after a collection has queued
    // them, so one collection sometimes read 30-50% high
    var last = used()
    var next = { Thread.sleep(300); used() }
    var rounds = 1
    while (next < last * 0.99 && rounds < 8) {
      last = next
      next = { Thread.sleep(300); used() }
      rounds += 1
    }
    metric("heap_after_gc_mb", next, "MB")
  }

  private def tokenizeProbe(texts: Seq[String]): Unit =
    metric("analysis.tokenize_s",
      timed(texts.foreach(Analyzer.tokenize(_, Cfg)))._2, "s")

  // ============================================================== serve

  private val Tables = Seq("docs", "postings", "postings_blocks", "doclen",
    "termstats", "fwdindex")

  /** The query stream: distinct BM25 bags of words, Indri structured
    * queries with repeats, a RankedBoolean batch; qids by position. */
  private def streamOf(b: Bands, salt: Long, bow: Int, indri: Int,
                       bool: Int, repeat: Double): Seq[QueryLine] =
    (inputs.bowQueries(b, bow, salt) ++
      inputs.structuredQueries(b, indri, bool, repeat, salt))
      .zipWithIndex.map { case (q, i) => q.copy(qid = i + 1) }

  /** Serving set-up (timed): build → save → load, `Main`'s route when
    * `indexPath` is set. The load repeats [[LoadReps]] times (median);
    * the build is not repeated, it would double the run. */
  private def serveSetup(corpus: Path, dir: Path): (Index, Double) = {
    val (_, saveS) = timed {
      val built = tr.span("index.build") {
        IndexBuilder.build(spark, spark.read.parquet(corpus.toString),
          IndexConfig(Cfg, fields = Fields))
      }
      tr.span("index.save")(IndexStore.save(built, dir.toString))
    }
    val loads = (0 until LoadReps).map(_ =>
      timed(tr.span("index.load")(IndexStore.load(spark, dir.toString))))
    info("build_save_s") = num(saveS)
    info("load_s") = loads.map(_._2).mkString("[", ",", "]")
    (loads.last._1, saveS + median(loads.map(_._2)))
  }

  /** Index content against the generator's own counts: every document is
    * present and every body term's df and ctf match exactly. */
  private def checkIndex(idx: Index, rows: Seq[CorpusRow], df: Map[String, Int]): String = {
    attempted += 1
    val sp = spark
    import sp.implicits._
    check(idx.docs.count() == rows.size, "docs count")
    val ts = idx.termStats.filter(col("field") === "body")
      .select("term", "df", "ctf").as[(String, Long, Long)].collect()
    val ctf = mutable.HashMap.empty[String, Long]
    rows.foreach(_.content.split(' ').foreach(t => ctf(t) = ctf.getOrElse(t, 0L) + 1))
    check(ts.length == df.size && ts.forall { case (t, d, c) =>
      df.get(t).contains(d.toInt) && ctf.get(t).contains(c) }, "body df/ctf")
    sha256(ts.sortBy(_._1).iterator.map { case (t, d, c) => s"$t\t$d\t$c" })
  }

  private def rowsOf(df: DataFrame): Ranked =
    df.collect().toSeq.map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3)))

  private def tieProne(m: RetrievalModel): Boolean =
    m == RankedBoolean || m == UnrankedBoolean

  /** One query through `search`; traced, split into parse, plan (scores)
    * and rank spans — `search` is exactly rank(scores(q), k). */
  private def serial(engine: SearchEngine, q: QueryLine, traced: Boolean): Ranked = {
    val m = Models(q.family)
    if (!traced) rowsOf(engine.search(q.text, m, K))
    else tr.span("query", q.qid.toString) {
      tr.span("model.parse")(QueryParser.parseQuery(q.text, m, Cfg))
      val scores = tr.span("exec.plan")(engine.scores(q.text, m))
      tr.span("api.rank")(rowsOf(engine.rank(scores, K, tieProne(m))))
    }
  }

  private def batch(engine: SearchEngine, qs: Seq[QueryLine]): Map[Int, Ranked] =
    qs.groupBy(_.family).toSeq.sortBy(_._1).flatMap { case (f, fq) =>
      tr.span("api.batch", f)(
        engine.searchBatch(fq.map(q => q.qid -> q.text), Models(f), K))
    }.toMap

  private def serve(): Double = {
    val rows = inputs.corpus(ServeDocs)
    val corpus = o.work.resolve("corpus")
    Inputs.writeParquet(spark, rows, corpus)
    val df = inputs.bodyDf(rows)
    val bands = inputs.bands(df, rows.size)
    // warm-up: one query per family, the Indri one a #NEAR/k (the second
    // shape of the cycle), so code generation is paid before timing
    val warm = streamOf(bands, 7L, 1, 2, 1, 0.0).filterNot(q =>
      q.family == "indri" && !q.text.startsWith("#NEAR"))
    val generated = streamOf(bands, 0L, BowQueries, IndriQueries, BoolQueries, RepeatShare)
    Inputs.writeQueries(o.work.resolve("queries.txt"), generated)
    val family = generated.map(q => q.qid -> q.family).toMap
    val stream = ParamFile.loadQueries(o.work.resolve("queries.txt").toString)
      .map { case (id, t) => QueryLine(id, t, family(id)) }
    val indri = stream.filter(_.family == "indri").map(_.text)
    info("queries_per_round") = stream.size.toString
    info("indri_repeat_share") = num(1.0 - indri.distinct.size.toDouble / indri.size)
    info("distinct_composites") = indri.distinct
      .flatMap("#(NEAR|WINDOW|SYN)(/\\d+)?\\([^()]*\\)".r.findAllIn(_)).distinct.size.toString
    info("scratch_capacity") = Index.ScratchCapacity.toString
    info("corpus_docs") = rows.size.toString

    val dir = o.work.resolve("index")
    mark("inputs")
    val (idx, setupS) = serveSetup(corpus, dir)
    mark("setup")
    info("index_digest") = "\"" + checkIndex(idx, rows, df) + "\""
    val engine = new SearchEngine(idx, Cfg)
    mark("index_checked")
    warm.foreach(serial(engine, _, traced = false))
    mark("warm")

    // rounds until --seconds have passed, at least one: every family's
    // stream through searchBatch, then every query serially. The composite
    // scratch cache starts empty in each phase so both see the same repeats.
    val batchS = mutable.ArrayBuffer.empty[Double]
    val lat = mutable.ArrayBuffer.empty[(String, Double)]
    var tracedS, plainS = 0.0
    var resultRows = 0L
    var digest = ""
    var serialRes = Seq.empty[(Int, Ranked)]
    val t0 = System.nanoTime()
    while (batchS.isEmpty || secs(t0) < o.seconds) {
      idx.releaseScratch()
      val (batchRes, bs) = timed(batch(engine, stream))
      batchS += bs
      attempted += stream.size
      idx.releaseScratch()
      serialRes = stream.map { q =>
        val (r, s) = timed(serial(engine, q, traced = false))
        lat += q.family -> s
        plainS += s
        resultRows += r.size
        attempted += 1
        check(batchRes.get(q.qid).contains(r),
          s"searchBatch != search for query ${q.qid}: ${q.text}")
        q.qid -> r
      }
      // traced run: the serial phase again traced, then untraced once more,
      // each from the same empty scratch cache. The traced phase against
      // the mean of the two untraced ones is the tracing overhead, with
      // drift over the run cancelled. (Pairing each query's executions
      // would let the second reuse the composites the first cached.)
      if (o.trace) {
        def phase(traced: Boolean): Unit = {
          idx.releaseScratch()
          stream.zip(serialRes).foreach { case (q, (_, r)) =>
            val (rr, s) = timed(serial(engine, q, traced))
            if (traced) tracedS += s else plainS += s
            check(rr == r, s"${if (traced) "traced" else "repeated"} result differs " +
              s"for query ${q.qid}")
          }
        }
        phase(traced = true)
        phase(traced = false)
      }
      val d = sha256(serialRes.iterator.flatMap { case (qid, rs) =>
        rs.iterator.map { case (doc, e, r, s) => s"$qid\t$doc\t$e\t$r\t${bits(s)}" } })
      check(digest.isEmpty || d == digest, "ranked output changed between rounds")
      digest = d
    }
    metric("ops_per_s", stream.size / median(batchS.toSeq), "1/s")
    // the mean, not a median: a round has only a few queries per family
    // and the families differ several-fold in cost, so a pooled median
    // would flip between families from seed to seed
    metric("latency_mean_s", lat.map(_._2).sum / lat.size, "s")
    for ((f, ls) <- lat.groupBy(_._1))
      info(s"latency_p50_s_$f") = num(median(ls.map(_._2).toSeq))
    info("latency_p50_s_pooled") = num(median(lat.map(_._2).toSeq))
    val sorted = lat.map(_._2).sorted
    // the highest percentile with at least ten samples beyond it
    if (sorted.size > 10) {
      info("latency_tail_s") = num(sorted(sorted.size - 11))
      info("latency_tail_pct") = num(100.0 * (sorted.size - 10) / sorted.size)
    }
    info("latency_samples") = sorted.size.toString
    info("serial_s") = lat.map { case (f, x) => f"[\"$f\",$x%.3f]" }.mkString("[", ",", "]")
    info("batch_s") = batchS.mkString("[", ",", "]")
    mark("window")
    recordDigest(digest)
    heapAfterGc()
    if (o.trace)
      serveLayers(engine, stream, serialRes.toMap, rows, dir, batchS.size, resultRows,
        tracedS, plainS)
    setupS
  }

  /** Traced-run metrics of the serving layers. */
  private def serveLayers(engine: SearchEngine, stream: Seq[QueryLine],
                          serialRes: Map[Int, Ranked],
                          rows: Seq[CorpusRow], dir: Path, rounds: Int, resultRows: Long,
                          tracedS: Double, plainS: Double): Unit = {
    tr.drain()
    tokenizeProbe(rows.take(1000).map(_.content))
    val corpusBytes = rows.iterator.map(r =>
      (r.repo + r.path + r.commit + r.lang + r.content).getBytes(UTF_8).length.toLong).sum
    Tables.foreach(t => metric(s"index.bytes.$t", dirBytes(dir.resolve(t)).toDouble, "B"))
    metric("index.snapshot_bytes_per_corpus_byte", dirBytes(dir).toDouble / corpusBytes, "ratio")
    val (saveS, save, _) = tr.total("index.save")
    metric("index.save_s", saveS, "s")
    metric("index.build_docs_per_s", rows.size / (saveS + tr.total("index.build")._1), "1/s")
    metric("index.save.tasks", save.tasks.toDouble, "count")
    metric("index.save.shuffle_write_bytes", save.shuffleWriteBytes.toDouble, "B")
    metric("index.save.spill_bytes", save.spillBytes.toDouble, "B")
    metric("index.save.executor_cpu_s", save.executorCpuNs / 1e9, "s")
    metric("index.load_s", median(tr.spans.filter(_.name == "index.load").map(_.durNs / 1e9)), "s")

    // serial route, per query: layer self times and the Spark work below them
    val queries = tr.spans.filter(_.name == "query")
    val n = queries.size.toDouble
    for ((span, name) <- Seq("model.parse" -> "model.parse_s", "exec.plan" -> "exec.plan_s",
        "api.rank" -> "api.rank_s"))
      metric(name, tr.total(span)._1 / n, "s")
    metric("api.batch_s", tr.total("api.batch")._1 / rounds, "s")
    val w = new SparkWork
    queries.foreach(q => tr.spans.filter(_.parent == q.id).foreach(c => w.add(tr.workOf(c))))
    metric("spark.jobs_per_query", w.jobs / n, "count")
    metric("spark.tasks_per_query", w.tasks / n, "count")
    metric("spark.input_bytes_per_query", w.inputBytes / n, "B")
    metric("spark.rows_read_per_result", w.inputRecords.toDouble / resultRows, "ratio")
    metric("spark.task_wait_s_per_query", w.taskWaitNs / 1e9 / n, "s")
    metric("spark.cache_block_writes_per_query", w.cacheBlockWrites / n, "count")
    // the layer self times against the untraced serial wall of the same
    // queries: a share far from 1 means time the layers do not account for
    val layers = Seq("model.parse", "exec.plan", "api.rank").map(tr.total(_)._1).sum
    metric("trace.layer_share_of_untraced_wall", layers / (plainS / 2), "ratio")
    metric("trace.overhead_frac", (tracedS - plainS / 2) / (plainS / 2), "ratio")

    // the pruned route must equal search (the round's serial result) on
    // every ranked query
    var accepted = 0
    val ranked = stream.filterNot(q => tieProne(Models(q.family)))
    ranked.foreach { q =>
      val m = Models(q.family)
      if (prunable(QueryParser.parseQuery(q.text, m, Cfg).get, m)) accepted += 1
      attempted += 1
      val pruned = tr.span("exec.pruned_search", q.qid.toString)(
        rowsOf(engine.searchPruned(q.text, m, K)))
      check(serialRes.get(q.qid).contains(pruned),
        s"searchPruned != search for query ${q.qid}: ${q.text}")
    }
    metric("exec.pruned_search_s", tr.total("exec.pruned_search")._1 / ranked.size, "s")
    metric("exec.pruned_accept_frac", accepted.toDouble / ranked.size, "ratio")
  }

  /** Shapes `searchPruned` routes to a block-max kernel: a one-field BM25
    * bag of words, or a product-form Indri tree. */
  private def prunable(ast: Qry, m: RetrievalModel): Boolean = m match {
    case _: BM25 => ast match {
      case Sum(args) =>
        val fields = args.map {
          case Score(Term(_, f)) => Some(f)
          case _ => None
        }
        fields.forall(_.isDefined) && fields.flatten.distinct.size == 1
      case _ => false
    }
    case _: Indri => IndriBlockMax.extract(Qry.asSl(ast)).isDefined
    case _ => false
  }

  // ============================================================== dedup

  type Pairs = Map[(Long, Long), Double]

  /** The pipeline: MinHash signatures → LSH candidates (persisted, per
    * `jaccardVerify`'s contract) → exact Jaccard verify, and the
    * embedding near-dup join. Returns candidates, verified, embedding pairs
    * and the seconds the embedding join took. */
  private def dedupPass(docs: DataFrame, vecs: DataFrame)
      : (Seq[(Long, Long)], Seq[(Long, Long, Double)], Seq[(Long, Long, Double)], Double) = {
    val sp = spark
    import sp.implicits._
    val sig = tr.span("ops.minhash") {
      val s = Dedup.minhashSignature(docs, "doc_id", "text", 3)
        .persist(StorageLevel.MEMORY_AND_DISK)
      s.count(); s
    }
    val cands = tr.span("ops.lsh_candidates") {
      val c = Dedup.lshCandidates(sig).persist(StorageLevel.MEMORY_AND_DISK)
      c.count(); c
    }
    val candRows = cands.as[(Long, Long)].collect().toSeq
    val verified = tr.span("ops.jaccard_verify") {
      Dedup.jaccardVerify(docs, "doc_id", "text", cands, 3, JaccardThreshold)
        .as[(Long, Long, Double)].collect().toSeq
    }
    val (embed, embedS) = timed(tr.span("ops.embed_neardup") {
      Similarity.embeddingNearDup(vecs, "vec_id", "embedding", CosineThreshold)
        .as[(Long, Long, Double)].collect().toSeq
    })
    cands.unpersist(true); sig.unpersist(true)
    (candRows, verified, embed, embedS)
  }

  private def pairsSharingKey(keys: Iterable[(Long, Seq[Any])]): Set[(Long, Long)] =
    keys.toSeq.flatMap { case (id, ks) => ks.zipWithIndex.map(k => k -> id) }
      .groupBy(_._1).values.flatMap { g =>
        val ids = g.map(_._2).sorted
        for (x <- ids.indices; y <- x + 1 until ids.size) yield (ids(x), ids(y))
      }.toSet

  /** In-process replica of MinHash-LSH + Jaccard verify: the candidate
    * pairs (sharing any 4-row band of the 16 minhashes) and, of those, the
    * pairs whose hashed 3-shingle Jaccard reaches the threshold. */
  private def expectedText(rows: Seq[TextRow]): (Set[(Long, Long)], Pairs) = {
    val shingles = rows.map { r =>
      val toks = r.text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      r.doc_id -> toks.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSeq.distinct
    }.toMap
    val sigs = shingles.collect { case (id, sh) if sh.nonEmpty =>
      val h = sh.map(s => java.lang.Long.parseLong(md5Hex(s).take(8), 16))
      id -> Dedup.MinhashAB.map { case (a, b) => h.map(x => (x * a + b) % Dedup.MinhashP).min }
    }
    val cands = pairsSharingKey(sigs.map { case (id, mh) => id -> mh.grouped(4).toSeq })
    val h60 = shingles.map { case (id, sh) =>
      id -> sh.map(s => java.lang.Long.parseLong(md5Hex(s).take(15), 16)).toSet }
    val verified = cands.iterator.map { case (a, b) =>
      val inter = (h60(a) intersect h60(b)).size.toLong
      val uni = h60(a).size.toLong + h60(b).size - inter
      (a, b) -> inter.toDouble / uni.toDouble
    }.filter(_._2 >= JaccardThreshold).toMap
    (cands, verified)
  }

  private def dot(a: Array[Float], b: Array[Double]): Double = {
    var acc = 0.0
    var j = 0
    while (j < a.length) { acc += a(j).toDouble * b(j); j += 1 }
    acc
  }

  /** In-process replica of `Similarity.embeddingNearDup`: pairs sharing an
    * SRP band key whose cosine (same fold order) reaches the threshold. */
  private def expectedEmbed(rows: Seq[VecRow]): Pairs = {
    import Similarity.{BandBits, BandCount, Dim, lshWeight}
    val planes = (0 until BandCount * BandBits).map(i =>
      (0 until Dim).map(j => lshWeight(i, j).toDouble).toArray)
    val byId = rows.map(r => r.vec_id -> r.embedding).toMap
    val norm = byId.map { case (id, v) => id -> math.sqrt(dot(v, v.map(_.toDouble))) }
    val keys = byId.map { case (id, v) => id -> (0 until BandCount).map(band =>
      (0 until BandBits).map(b =>
        if (dot(v, planes(band * BandBits + b)) > 0) 1L << b else 0L).sum) }
    pairsSharingKey(keys).iterator.map { case (a, b) =>
      (a, b) -> dot(byId(a), byId(b).map(_.toDouble)) / (norm(a) * norm(b))
    }.filter(_._2 >= CosineThreshold).toMap
  }

  private def dedup(): Double = {
    val (docs, plantedText) = inputs.dedupDocs(DedupDocs, TextDupShare, TextNearShare)
    val (vecs, plantedVec) = inputs.embeddings(DedupVecs, Similarity.Dim, VecDupShare)
    Inputs.writeParquet(spark, docs, o.work.resolve("docs"))
    Inputs.writeParquet(spark, vecs, o.work.resolve("vecs"))
    def read(n: String) = spark.read.parquet(o.work.resolve(n).toString)
    mark("inputs")
    // set-up: one pass over the same input pays class loading and code
    // generation before the timed passes. JIT still leaves the first timed
    // pass ~10% slower than the second, so runs compare only at the same
    // window.
    val (_, setupS) = timed(dedupPass(read("docs"), read("vecs")))
    mark("setup")

    val (expCands, expVerified) = expectedText(docs)
    val expEmbed = expectedEmbed(vecs)
    val passes, embedS = mutable.ArrayBuffer.empty[Double]
    var digest = ""
    var last = (Seq.empty[(Long, Long)], Seq.empty[(Long, Long, Double)],
      Seq.empty[(Long, Long, Double)], 0.0)
    val t0 = System.nanoTime()
    while (passes.isEmpty || secs(t0) < o.seconds) {
      val (out, s) = timed(dedupPass(read("docs"), read("vecs")))
      passes += s
      last = out
      val (cands, verified, embed, es) = out
      embedS += es
      attempted += 3
      check(cands.size == cands.distinct.size && cands.toSet == expCands,
        s"LSH candidates differ from the replica (${cands.size} vs ${expCands.size})")
      val v = verified.map { case (a, b, j) => (a, b) -> j }.toMap
      check(v.size == verified.size && v.keySet == expVerified.keySet &&
        v.forall { case (k, j) => bits(j) == bits(expVerified(k)) },
        s"verified pairs differ from the replica (${v.size} vs ${expVerified.size})")
      check(plantedText.forall(v.contains), "a planted near-dup text pair was not found")
      val e = embed.map { case (a, b, c) => (a, b) -> c }.toMap
      check(e.size == embed.size && e.keySet == expEmbed.keySet &&
        e.forall { case (k, c) => bits(c) == bits(expEmbed(k)) },
        s"embedding pairs differ from the replica (${e.size} vs ${expEmbed.size})")
      check(plantedVec.forall(e.contains), "a planted embedding neighbour was not found")
      val d = sha256((verified ++ embed).map { case (a, b, x) => s"$a\t$b\t${bits(x)}" }
        .sorted.iterator)
      check(digest.isEmpty || d == digest, "dedup output changed between passes")
      digest = d
    }
    mark("window")
    metric("ops_per_s", (docs.size + vecs.size) * passes.size / passes.sum, "1/s")
    // latency: the embedding join alone, a call of its own, so that it is
    // not the pass time that ops_per_s is already made of
    metric("latency_mean_s", embedS.sum / embedS.size, "s")
    info("passes_s") = passes.mkString("[", ",", "]")
    info("embed_s") = embedS.mkString("[", ",", "]")
    info("text_docs") = docs.size.toString
    info("vectors") = vecs.size.toString
    info("planted_text_pairs") = plantedText.size.toString
    info("planted_vector_pairs") = plantedVec.size.toString
    info("candidate_pairs") = last._1.size.toString
    info("verified_pairs") = last._2.size.toString
    info("embed_pairs") = last._3.size.toString
    recordDigest(digest)
    heapAfterGc()
    if (o.trace) {
      tr.drain()
      tokenizeProbe(docs.take(1000).map(_.text))
      for (op <- Seq("minhash", "lsh_candidates", "jaccard_verify", "embed_neardup")) {
        // the timed passes only, not the set-up pass
        val spans = tr.spans.filter(_.name == s"ops.$op").drop(1)
        metric(s"ops.${op}_s", median(spans.map(tr.selfNs(_) / 1e9)), "s")
        metric(s"ops.$op.shuffle_bytes",
          spans.map(tr.workOf(_).shuffleWriteBytes).sum.toDouble / spans.size, "B")
        if (op == "embed_neardup")
          metric("ops.embed_neardup_jobs",
            spans.map(tr.workOf(_).jobs).sum.toDouble / spans.size, "count")
      }
      metric("ops.candidate_pairs", last._1.size.toDouble, "count")
      metric("ops.verified_pairs", last._2.size.toDouble, "count")
      metric("ops.verify_yield", last._2.size.toDouble / last._1.size, "ratio")
    }
    setupS
  }
}
