package perfbench

import scala.collection.mutable
import graft.chunk.Chunker
import graft.extract.{Extract, Sniffer}
import graft.jobs.{ExtractJob, IndexJob, PipelineJob}
import graft.lake.LakeTable
import org.apache.spark.BusDrain
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Benchmark of the production pipeline, driven through its public entry
  * points. See perfbench/README.md for the workloads, the metrics and how to
  * run it; `perfbench/run.py` builds this and passes the arguments. */
object Main {

  final case class Config(workload: String, seed: Long, seconds: Int, trace: Boolean,
                          work: String, golden: String, cores: Int, offHeapMb: Long)

  val Workloads = Seq("crawl", "rag_search")

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cfg = Config(o("workload"), o("seed").toLong, o("seconds").toInt, o("trace") == "1",
      o("work"), o("golden"), o("cores").toInt, o("offheap-mb").toLong)
    require(Workloads.contains(cfg.workload), s"unknown workload ${cfg.workload}")
    val spark = session(cfg)
    val line = try new Bench(spark, cfg).run() finally spark.stop()
    println(line)
  }

  /** local[nproc] with Bench's effective settings (AQE, zstd, 8 MB splits,
    * off-heap execution memory), memory sized by the caller from MemTotal,
    * and every scratch path inside the run's work directory. */
  def session(cfg: Config): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[${cfg.cores}]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cfg.cores)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", s"${8 * 1024 * 1024}")
      .config("spark.sql.files.openCostInBytes", s"${1024 * 1024}")
      .config("spark.local.dir", s"${cfg.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${cfg.work}/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"${cfg.work}/tmp")
      .config("spark.io.compression.codec", "zstd")
      .config("spark.memory.offHeap.enabled", "true")
      .config("spark.memory.offHeap.size", s"${cfg.offHeapMb}m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

final class Bench(spark: SparkSession, cfg: Main.Config) {
  import Load._

  private val tracer = if (cfg.trace) Some(Tracer.install(spark)) else None
  private val golden = goldenIds(cfg.golden)
  private val queryMix = queries(cfg.seed)

  // samples of the end-to-end metrics and of each per-layer metric
  private val e2e = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val layer = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private def add(m: mutable.Map[String, mutable.ArrayBuffer[Double]], k: String, v: Double): Unit =
    m.getOrElseUpdate(k, mutable.ArrayBuffer.empty[Double]) += v

  private var attempted = 0L
  private var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]

  /** One counted operation: a throw or a failed check counts it as failed,
    * and a failed operation contributes no sample. */
  private def attempt(what: String)(body: => Seq[String]): Unit = {
    attempted += 1
    val t0 = System.nanoTime()
    val errs = try body catch { case e: Exception => Seq(s"threw ${e.getClass.getSimpleName}: ${e.getMessage}") }
    System.err.println(f"perfbench: $what%s ${(System.nanoTime() - t0) / 1e9}%.2fs${if (errs.isEmpty) "" else " FAILED"}")
    if (errs.nonEmpty) {
      failed += 1
      problems ++= errs.map(e => s"$what: $e")
    }
  }

  private def check[A](label: String)(body: => A): A = {
    spark.sparkContext.setJobDescription(s"bench:check:$label")
    try body finally spark.sparkContext.setJobDescription(null)
  }

  final case class Timed[A](value: A, wallS: Double, counters: Map[String, Double])

  /** Times `op`; with tracing on, also returns the per-layer counters it
    * moved (the listener bus is drained outside the wall-clock interval, so
    * every task of the operation is counted). */
  private def timed[A](op: => A): Timed[A] = {
    tracer.foreach(_ => BusDrain.drain(spark.sparkContext))
    val before = tracer.map(_.snapshot())
    val t0 = System.nanoTime()
    val a = op
    val wall = (System.nanoTime() - t0) / 1e9
    val counters = (tracer, before) match {
      case (Some(t), Some(b)) =>
        BusDrain.drain(spark.sparkContext)
        Tracer.delta(b, t.snapshot())
      case _ => Map.empty[String, Double]
    }
    Timed(a, wall, counters)
  }

  // ---- operations --------------------------------------------------------

  final case class Input(pagesDir: String, recrawlDir: String, pageBytes: Long)

  /** Pages [from, until), and optionally their recrawl, as parquet under `dir`. */
  private def generate(dir: String, from: Long, until: Long, recrawl: Boolean): Input = {
    val bytes = writePages(spark, from, until, cfg.seed, recrawl = false, s"$dir/pages")
    if (recrawl) writePages(spark, from, until, cfg.seed, recrawl = true, s"$dir/recrawl")
    Input(s"$dir/pages", s"$dir/recrawl", bytes)
  }

  /** Lake-side counts of one pipeline run: what it wrote, how many
    * manifests, and what its extract commit says it did. */
  private def pipelineCounts(root: String, r: PipelineJob.Result, bytesBefore: Long,
                             manifestsBefore: Long, extractBefore: Int): Map[String, Double] = {
    val extract =
      if (r.extractVersion == extractBefore) Map.empty[String, Double]
      else {
        val m = new LakeTable(s"$root/extract").readManifest(r.extractVersion)
        val redone = m.keys.collect { case k if k.startsWith("b=") => k.drop(2).takeWhile(_ != ':') }.toSet
        // lineage rows of buckets not redone are the retried urls' buckets
        val retried = m.lineage.filterNot(l => redone(l("bucket"))).map(_("n_docs").toDouble).sum
        Map("extract.docs" -> m.metrics("docs"), "extract.err_docs" -> m.metrics("errs"),
          "extract.retried_docs" -> retried, "extract.buckets_redone" -> redone.size.toDouble,
          "extract.chunks" -> m.metrics("chunks"))
      }
    extract ++ Map(
      "lake.bytes_written_mb" -> (dirBytes(root) - bytesBefore) / 1e6,
      "lake.manifests" -> (manifestCount(root) - manifestsBefore).toDouble)
  }

  private def manifestCount(root: String): Long =
    countFiles(root, p => p.getParent.getFileName.toString == "metadata" &&
      p.getFileName.toString.matches("v\\d+\\.json"))

  private def runPipeline(pagesDir: String, root: String): Timed[(PipelineJob.Result, Map[String, Double])] = {
    val bytes0 = dirBytes(root)
    val manifests0 = manifestCount(root)
    val extract0 = new LakeTable(s"$root/extract").currentVersion
    val pages = readPages(spark, pagesDir)
    val t = timed(PipelineJob.run(spark, pages, root))
    t.copy(value = (t.value, pipelineCounts(root, t.value, bytes0, manifests0, extract0)))
  }

  /** Golden chunk ids, and the index/dedup identity: live index docs plus
    * dedup dropped equals the non-duplicate chunk count (README explains why
    * it holds). Also records the root's golden and stored-bytes samples. */
  private def checkRoot(root: String, r: PipelineJob.Result, in: Input): Seq[String] =
    check("root") {
      val chunks = ExtractJob.readChunks(spark, s"$root/extract")
      val rate = goldenMatchRate(spark, chunks, golden)
      val nonDup = chunks.filter(!col("is_duplicate")).count()
      val live = IndexJob.liveDocs(spark, r.indexRoot).count()
      val errs = Seq(
        if (rate == 1.0) None else Some(f"golden_match_rate $rate%.4f"),
        if (live + r.dedupDropped == nonDup) None
        else Some(s"index docs $live + dedup dropped ${r.dedupDropped} != non-duplicate chunks $nonDup")
      ).flatten
      if (errs.isEmpty) {
        add(e2e, "golden_match_rate", rate)
        add(e2e, "stored_bytes_per_input_byte", dirBytes(root).toDouble / in.pageBytes)
        rootCounts = Map("index.docs" -> live.toDouble, "index.segments" -> segments(r.indexRoot),
          "index.bytes_mb" -> dirBytes(r.indexRoot) / 1e6, "lake.state_ms" -> stateMs(root),
          "dedup.dropped" -> r.dedupDropped.toDouble)
      }
      errs
    }

  private var rootCounts = Map.empty[String, Double]

  private def segments(indexRoot: String): Double =
    new LakeTable(indexRoot).state.keyVersions.count(_._1.startsWith("segment-")).toDouble

  /** Median of a few timed `LakeTable(root).state` reads of the extract table. */
  private def stateMs(root: String): Double =
    median((1 to 5).map { _ =>
      val t0 = System.nanoTime(); new LakeTable(s"$root/extract").state; (System.nanoTime() - t0) / 1e6
    })

  /** crawl's operation, on a fresh root: the first ingest of the corpus,
    * then the next scheduled run over the same, unchanged input, which
    * should find everything committed and do nothing. */
  private def crawl(in: Input, root: String): Unit = attempt("crawl: ingest, unchanged re-run") {
    val fresh = runPipeline(in.pagesDir, root)
    val noop = runPipeline(in.pagesDir, root)
    val errs = checkRoot(root, noop.value._1, in) ++
      (if (fresh.value._1.resumed) Seq("fresh run reported resumed") else Nil)
    if (errs.isEmpty) {
      add(e2e, "op_ms", (fresh.wallS + noop.wallS) * 1e3)
      val counts = Seq(fresh.counters, noop.counters, fresh.value._2, noop.value._2).reduce(sumMaps)
      val docs = counts.getOrElse("extract.docs", 0.0)
      recordLayers(counts ++ rootCounts ++ Map(
        "extract.chunks_per_doc" -> (if (docs > 0) counts("extract.chunks") / docs else 0.0),
        "pipeline.fresh_s" -> fresh.wallS, "pipeline.noop_s" -> noop.wallS,
        "pipeline.noop_fast_path" -> (if (noop.value._1.resumed) 1.0 else 0.0)))
    }
    errs
  }

  private def sumMaps(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  private def recordLayers(values: Map[String, Double]): Unit =
    values.foreach { case (k, v) => add(layer, k, v) }

  private def runSearch(indexRoot: String, q: Query): Array[(String, Double)] =
    IndexJob.search(spark, indexRoot, q.text, 10, q.facet).collect()
      .map(r => (r.getString(0), r.getDouble(1)))

  /** rag_search's operation: one top-10 query. */
  private def search(indexRoot: String, q: Query): Unit =
    attempt(s"search '${q.text}'${q.facet.fold("")(f => s" where $f")}") {
      val t = timed {
        spark.sparkContext.setJobDescription("bench:search")
        try runSearch(indexRoot, q) finally spark.sparkContext.setJobDescription(null)
      }
      val hits = t.value
      val errs = Seq(
        if (hits.nonEmpty) None else Some("no hits"),
        if (hits.map(_._2).sliding(2).forall(p => p.length < 2 || p(0) >= p(1))) None
        else Some("scores not in descending order"),
        q.facet.flatMap { f =>
          val host = f.split("'")(1)
          if (hits.forall(_._1.startsWith(s"https://$host/"))) None else Some(s"hit outside $host")
        }).flatten
      if (errs.isEmpty) {
        add(e2e, "op_ms", t.wallS * 1e3)
        val c = t.counters
        recordLayers(c ++ Map(
          "search.jobs_per_query" -> c.getOrElse("search.jobs", 0.0),
          "search.tasks_per_query" -> c.getOrElse("search.tasks", 0.0),
          "search.cpu_ms_per_query" -> c.getOrElse("search.cpu_s", 0.0) * 1e3,
          "search.files_read_per_query" -> c.getOrElse("scan.files", 0.0),
          "search.postings_rows_per_query" -> c.getOrElse("scan.postings_rows", 0.0)))
      }
      errs
    }

  /** The Newton query's top hit must be a chunk holding the pinned passage. */
  private def checkNewton(root: String): Unit = attempt("newton top-1") {
    check("newton") {
      runSearch(s"$root/index", Newton).headOption match {
        case Some((doc, _)) =>
          val cut = doc.lastIndexOf('#')
          val text = ExtractJob.readChunks(spark, s"$root/extract")
            .filter(col("url") === doc.take(cut) && col("chunk_index") === doc.drop(cut + 1).toInt)
            .select("text").collect().map(_.getString(0))
          if (text.exists(_.contains(graft.corpus.PageGen.NewtonPassage))) Nil
          else Seq(s"top-1 $doc does not hold the pinned passage")
        case None => Seq("no hits")
      }
    }
  }

  // ---- the run -----------------------------------------------------------

  private def step[A](what: String)(f: => A): A = {
    val t0 = System.nanoTime()
    try f finally System.err.println(f"perfbench: setup $what ${(System.nanoTime() - t0) / 1e9}%.2fs")
  }

  /** Set-up, timed as `setup_s`. crawl: generate the corpus as parquet and
    * warm the JIT with one ingest of its seeded pages (every code path the
    * corpus takes, at a sixth of its size) on a throwaway root. rag_search:
    * generate the corpus and its recrawl, ingest the corpus, then resync
    * the recrawl, leaving the index state a recrawl leaves behind (base
    * segment, appended segment, tombstones), and warm the JIT with one
    * block of queries that the measured loop does not use. */
  private def setup(): (Input, String) = {
    val root = s"${cfg.work}/root"
    if (cfg.workload == "crawl") {
      val in = step("generate")(generate(s"${cfg.work}/input", 0, Pages, recrawl = false))
      val warm = step("generate warm-up")(
        generate(s"${cfg.work}/warmup-input", GoldenPages, Pages, recrawl = false))
      step("warm-up")(PipelineJob.run(spark, readPages(spark, warm.pagesDir), s"${cfg.work}/warmup"))
      deleteTree(s"${cfg.work}/warmup")
      (in, root)
    } else {
      val in = step("generate")(generate(s"${cfg.work}/input", 0, Pages, recrawl = true))
      step("ingest")(PipelineJob.run(spark, readPages(spark, in.pagesDir), root))
      val r = step("resync")(PipelineJob.run(spark, readPages(spark, in.recrawlDir), root))
      attempt("recrawled root")(checkRoot(root, r, in))
      rootCounts.foreach { case (k, v) => add(layer, k, v) }
      add(layer, "index.tombstoned", r.tombstoned.toDouble)
      add(layer, "index.appended", r.appended.toDouble)
      step("search warm-up")(queryBlock(WarmupBlock).foreach(q => runSearch(s"$root/index", q)))
      (in, root)
    }
  }

  def run(): String = {
    val t0 = System.nanoTime()
    val (in, root) = setup()
    val setupS = (System.nanoTime() - t0) / 1e9
    val deadline = System.nanoTime() + cfg.seconds * 1000000000L
    def loop(op: Int => Unit): Unit = {
      var i = 0
      while (i == 0 || System.nanoTime() < deadline) { op(i); i += 1 }
    }
    cfg.workload match {
      case "crawl" =>
        loop { i =>
          val r = s"$root$i"
          crawl(in, r)
          deleteTree(r)
        }
      case _ =>
        checkNewton(root)
        val idx = s"$root/index"
        loop(b => queryBlock(b % WarmupBlock).foreach(q => search(idx, q)))
        if (cfg.trace) crossCheck(in, root)
    }
    if (cfg.trace) {
      attributionCheck()
      microbench().foreach { case (k, v) => add(layer, k, v) }
    }
    result(setupS)
  }

  /** Queries 4b..4b+3 of the mix: one of each kind, so every measured
    * block has the same composition. The last block warms the JIT. */
  private def queryBlock(b: Int): Seq[Query] = queryMix.slice(4 * b, 4 * b + 4)

  private val WarmupBlock = queryMix.length / 4 - 1

  /** Untimed, in the traced run: the synced index must answer the first
    * block of the mix exactly as an index freshly built over the same
    * input does. */
  private def crossCheck(in: Input, root: String): Unit = attempt("synced index == fresh build") {
    val fresh = s"${cfg.work}/crosscheck"
    PipelineJob.run(spark, readPages(spark, in.recrawlDir), fresh)
    check("crosscheck") {
      queryBlock(0).flatMap { q =>
        if (runSearch(s"$root/index", q).toSeq == runSearch(s"$fresh/index", q).toSeq) None
        else Some(s"'${q.text}' differs between synced and fresh index")
      }
    }
  }

  /** Direct single-thread calls on the run's own pages, outside Spark:
    * microseconds per document for HTML and PDF extraction and for
    * chunking. The first pass warms the JIT; the second is timed. */
  private def microbench(): Map[String, Double] = {
    val pages = (0L until Pages.toLong).map(i => page(cfg.seed, i))
    def usPerDoc[A](xs: Seq[A])(f: A => Any): Double = {
      xs.foreach(f)
      val t0 = System.nanoTime()
      xs.foreach(f)
      (System.nanoTime() - t0) / 1e3 / math.max(xs.length, 1)
    }
    def ofKind(k: String) = pages.filter(p => Sniffer.sniff(p.html) == k)
    val texts = pages.map(p => Extract.extractOne(p.url, p.html)).filter(d => d.err.isEmpty && d.text.nonEmpty)
    Map(
      "extract.html_us_per_doc" -> usPerDoc(ofKind("html"))(p => Extract.extractOne(p.url, p.html)),
      "extract.pdf_us_per_doc" -> usPerDoc(ofKind("pdf"))(p => Extract.extractOne(p.url, p.html)),
      "chunk.us_per_doc" -> usPerDoc(texts)(d =>
        Chunker.chunkDocument(d.url, graft.Hashing.sha256Hex(d.text), d.text)))
  }

  /** Per-layer CPU plus unlabeled must cover the stage-level total, and no
    * job of a measured operation may carry a label outside the layer map. */
  private def attributionCheck(): Unit = attempt("per-layer cpu sums to total") {
    def sum(k: String) = layer.get(k).map(_.sum).getOrElse(0.0)
    val parts = Tracer.Layers.map(l => sum(s"$l.cpu_s")).sum
    val total = sum("total.cpu_s")
    val unmapped = layer.collect { case (k, xs) if k.startsWith("other:") && xs.sum != 0 => k }
    if (total > 0 && math.abs(parts - total) <= 0.05 * total && unmapped.isEmpty) Nil
    else Seq(f"layers $parts%.3f s vs total $total%.3f s; unmapped: ${unmapped.mkString(", ")}")
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile. */
  private def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  private def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst { case l if l.startsWith("VmHWM:") =>
      l.split("\\s+")(1).toDouble / 1024 }.getOrElse(Double.NaN)
    finally src.close()
  }

  private def result(setupS: Double): String = {
    def med(k: String): Double = e2e.get(k).map(xs => median(xs.toSeq)).getOrElse(Double.NaN)
    val endToEnd: Seq[(String, Double, String)] = Seq(
      ("setup_s", setupS, "s"),
      ("op_p50_ms", med("op_ms"), "ms"),
      ("ok_ops_ratio", (attempted - failed).toDouble / math.max(attempted, 1L), "ratio"),
      ("golden_match_rate", med("golden_match_rate"), "ratio"),
      ("peak_rss_mb", peakRssMb, "MB"),
      ("stored_bytes_per_input_byte", med("stored_bytes_per_input_byte"), "ratio"))

    val perLayer: Seq[(String, Double, String)] = layerMetrics
    val report = if (cfg.trace) perLayer else endToEnd
    val samples = e2e.map { case (k, v) => s"$k=${v.length}" }.mkString(" ")
    System.err.println(s"perfbench: workload=${cfg.workload} seed=${cfg.seed} pages=${Pages} " +
      s"cores=${cfg.cores} attempted=$attempted failed=$failed samples: $samples")
    endToEnd.foreach { case (k, v, u) => System.err.println(f"perfbench: $k%-28s $v%14.4f $u") }
    if (cfg.trace) perLayer.foreach { case (k, v, u) => System.err.println(f"perfbench: $k%-34s $v%14.4f $u") }
    problems.foreach(p => System.err.println(s"perfbench: FAILED $p"))

    val correct = failed == 0 && report.forall(m => !m._2.isNaN)
    val metrics = report.map { case (k, v, u) =>
      s""""$k": {"value": ${if (v.isNaN) "null" else v.toString}, "unit": "$u"}""" }
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {${metrics.mkString(", ")}}}"""
  }

  private def layerMetrics: Seq[(String, Double, String)] = {
    def med(k: String): Double = layer.get(k).map(xs => median(xs.toSeq)).getOrElse(0.0)
    val stageShape = for {
      l <- Seq("extract", "dedup", "index")
      (m, u) <- Seq("cpu_s" -> "s", "gc_s" -> "s", "jobs" -> "count", "tasks" -> "count",
        "shuffle_write_mb" -> "MB", "spill_mb" -> "MB", "wall_s" -> "s")
    } yield (s"$l.$m", med(s"$l.$m"), u)
    stageShape ++ Seq(
      ("extract.docs", med("extract.docs"), "count"),
      ("extract.err_docs", med("extract.err_docs"), "count"),
      ("extract.retried_docs", med("extract.retried_docs"), "count"),
      ("extract.buckets_redone", med("extract.buckets_redone"), "count"),
      ("extract.chunks_per_doc", med("extract.chunks_per_doc"), "ratio"),
      ("extract.html_us_per_doc", med("extract.html_us_per_doc"), "us"),
      ("extract.pdf_us_per_doc", med("extract.pdf_us_per_doc"), "us"),
      ("chunk.us_per_doc", med("chunk.us_per_doc"), "us"),
      ("dedup.dropped", med("dedup.dropped"), "count"),
      ("index.docs", med("index.docs"), "count"),
      ("index.tombstoned", med("index.tombstoned"), "count"),
      ("index.appended", med("index.appended"), "count"),
      ("index.segments", med("index.segments"), "count"),
      ("index.bytes_mb", med("index.bytes_mb"), "MB"),
      ("search.jobs_per_query", med("search.jobs_per_query"), "count"),
      ("search.tasks_per_query", med("search.tasks_per_query"), "count"),
      ("search.cpu_ms_per_query", med("search.cpu_ms_per_query"), "ms"),
      ("search.files_read_per_query", med("search.files_read_per_query"), "count"),
      ("search.postings_rows_per_query", med("search.postings_rows_per_query"), "count"),
      ("lake.bytes_written_mb", med("lake.bytes_written_mb"), "MB"),
      ("lake.manifests", med("lake.manifests"), "count"),
      ("lake.state_ms", med("lake.state_ms"), "ms"),
      ("pipeline.fresh_s", med("pipeline.fresh_s"), "s"),
      ("pipeline.noop_s", med("pipeline.noop_s"), "s"),
      ("pipeline.noop_fast_path_ratio", layer.get("pipeline.noop_fast_path")
        .map(xs => xs.sum / xs.length).getOrElse(0.0), "ratio"),
      ("unlabeled.cpu_s", med("unlabeled.cpu_s"), "s"),
      ("unlabeled.jobs", med("unlabeled.jobs"), "count"),
      ("total.cpu_s", med("total.cpu_s"), "s"))
  }
}
