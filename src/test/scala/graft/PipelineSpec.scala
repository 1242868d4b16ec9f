package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.corpus.PageGen
import graft.extract.Extract
import graft.chunk.Chunker
import graft.jobs.{DedupJob, IndexJob}

/** Capstone: the full user-facing flow a reference user would run after
  * switching to this library — extract → corpus dedup → chunk → index →
  * retrieve — composed purely from the public jobs API, ending in a
  * retrieval result that provably contains the pinned passage. */
class PipelineSpec extends SparkSuiteBase {
  import spark.implicits._
  implicit lazy val sp: org.apache.spark.sql.SparkSession = spark

  test("extract -> dedup -> chunk -> index -> retrieve finds the Newton passage") {
    val n = 600L
    val idxRoot = Files.createTempDirectory("graft-pipe-idx").toString

    // 1. extraction over the Common-Crawl-style corpus (salted)
    val pages = spark.range(n).repartition(8).map(i => PageGen.row(42L, i))
    val docs = Extract.runSalted(pages, 8)
      .filter(d => d.err.isEmpty && d.text.nonEmpty)
      .map(d => (d.url, d.text)).toDF("url", "text")

    // 2. corpus-wide dedup (exact + MinHash-LSH)
    val deduped = DedupJob.run(spark, docs).clean

    // 3. chunk (reference semantics) — one row per chunk
    val chunks = deduped.as[(String, String)].flatMap { case (url, text) =>
      Chunker.chunkDocument(url, Hashing.sha256Hex(text), text)
    }.toDF()

    // 4. index as a committed segment
    IndexJob.build(spark, chunks, idxRoot)

    // 5. retrieval join over the materialized index
    val top = IndexJob.search(spark, idxRoot, "newton raphson method", 5).collect()
    assert(top.length == 5)
    assert(top.map(_.getDouble(1)).toSeq == top.map(_.getDouble(1)).sorted.reverse.toSeq)

    // the winning chunk really contains the pinned passage terms
    val winnerId = top.head.getString(0)
    val winnerText = chunks.filter(col("id") === winnerId)
      .select("text").as[String].head()
    assert(winnerText.toLowerCase.contains("newton raphson"))

    // dedup actually removed the planted duplicate pages before indexing
    assert(deduped.count() < docs.count())
  }

  test("PipelineJob: one composed run; re-run resumes past every stage") {
    import java.sql.Timestamp
    def page(i: Int, body: String, ts: Long = 1000L) = PageRow(s"https://p.example/d$i",
      new Timestamp(ts), corpus.HtmlGen.article(s"T$i",
        Seq(body), i % 7, Nil).getBytes("UTF-8"), "", "en")
    // the variant marker sits MID-TEXT: a differing token there touches 5
    // shingle windows (pairwise jaccard ~0.64, below the 0.8 threshold); a
    // trailing token would touch only the final window (~0.92 — above it,
    // which is exactly how the planted near-dup mutant is built)
    def body(tag: String) =
      "a sufficiently long paragraph body with plenty of words " + tag +
        " to pass the strict tier filter easily and carry the retrieval " +
        "terms spark filter join table"
    val root = Files.createTempDirectory("graft-pjob").toString
    val pages = spark.createDataset(
      (0 until 20).map(i => page(i, body(s"variant$i"))) ++
        Seq(page(100, body("variant0")),                 // exact dup of d0
            page(101, body("variant1") + " marker")))    // near-dup of d1

    val r1 = graft.jobs.PipelineJob.run(spark, pages, root,
      nBuckets = 4, jaccardThreshold = 0.8)
    assert(!r1.resumed)
    assert(r1.dedupDropped >= 2, s"dropped=${r1.dedupDropped}") // the two planted
    val hits1 = IndexJob.search(spark, r1.indexRoot, "spark filter join table", 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(hits1.size == 20) // 22 pages, 2 dropped as duplicates

    // dropped lineage persisted with reasons
    val dropped = spark.read.parquet(s"$root/dedup/data/v1/dropped")
    assert(dropped.filter(col("reason") === "exact_duplicate").count() == 1)
    assert(dropped.filter(col("reason") === "near_duplicate").count() == 1)

    // identical input ⇒ extract quiesces (same version), stage key found,
    // dedup+index SKIPPED — and the index still answers identically
    val r2 = graft.jobs.PipelineJob.run(spark, pages, root,
      nBuckets = 4, jaccardThreshold = 0.8)
    assert(r2.resumed && r2.extractVersion == r1.extractVersion)
    assert(r2.dedupDropped == r1.dedupDropped)
    val hits2 = IndexJob.search(spark, r2.indexRoot, "spark filter join table", 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(hits2 == hits1)

    // a changed page (new crawl timestamp — change detection is metadata-
    // only, like the reference's size/mtime check) invalidates its bucket:
    // new extract version, downstream stages re-run — but the ONE index is
    // UPSERTED (tombstone the rewritten chunk id + append one delta
    // segment), never rebuilt
    val pages3 = spark.createDataset(
      (0 until 20).map(i =>
        if (i == 5) page(i, body("rewritten five now"), ts = 2000L)
        else page(i, body(s"variant$i"))) ++
        Seq(page(100, body("variant0")), page(101, body("variant1") + " marker")))
    val r3 = graft.jobs.PipelineJob.run(spark, pages3, root,
      nBuckets = 4, jaccardThreshold = 0.8)
    assert(!r3.resumed && r3.extractVersion > r1.extractVersion)
    // SINGLE index generation: same root object, synced in place
    assert(r3.indexRoot == r1.indexRoot)
    // the delta is proportional to the CHANGE (one rewritten chunk id),
    // not the 20-doc corpus — the tombstone+append upsert, not a rebuild
    assert(r3.tombstoned == 1, s"tombstoned=${r3.tombstoned}")
    assert(r3.appended == 1, s"appended=${r3.appended}")
    val ilake = new graft.lake.LakeTable(r3.indexRoot)
    assert(ilake.committedKeys.exists(_.startsWith("tombstone-v")))
    val hits3 = IndexJob.search(spark, r3.indexRoot, "rewritten five", 5)
      .collect()
    assert(hits3.nonEmpty && hits3.head.getString(0).startsWith("https://p.example/d5#"))
    // the superseded text is gone from retrieval: "variant5" only ever
    // appeared in d5's OLD body, whose posting rows are now tombstoned
    assert(IndexJob.search(spark, r3.indexRoot, "variant5", 5).collect().isEmpty)

    // upsert-synced index ≡ fresh build over the current corpus: identical
    // scores for the corpus-wide query (df/N/avgdl all reflect the synced
    // live doc set exactly)
    val freshRoot = Files.createTempDirectory("graft-pjob-fresh").toString
    val curChunks = graft.jobs.ExtractJob.readChunks(spark, s"$root/extract")
    val curDocs = curChunks.filter(!col("is_duplicate"))
      .select(concat(col("url"), lit("#"), col("chunk_index")).as("cid"), col("text"))
    val curClean = DedupJob.run(spark, curDocs, urlCol = "cid", textCol = "text",
      jaccardThreshold = 0.8).clean
    IndexJob.build(spark, curClean.select(col("cid").as("id"), col("text"),
      lit(false).as("is_duplicate")), freshRoot)
    val freshHits = IndexJob.search(spark, freshRoot, "spark filter join table", 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    val syncedHits = IndexJob.search(spark, r3.indexRoot, "spark filter join table", 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(syncedHits == freshHits)

    // compaction PURGES tombstoned rows and retires the markers; search is
    // unchanged across it
    IndexJob.compact(spark, r3.indexRoot)
    val compactedHits = IndexJob.search(spark, r3.indexRoot, "spark filter join table", 100)
      .collect().map(r => (r.getString(0), r.getDouble(1))).toSeq
    assert(compactedHits == syncedHits)
    assert(IndexJob.search(spark, r3.indexRoot, "variant5", 5).collect().isEmpty)

    // the composed index carries the url host as a committed facet
    val onHost = IndexJob.search(spark, r3.indexRoot, "spark filter join table", 100,
      facetWhere = Some("host = 'p.example'")).collect()
    assert(onHost.length == 20)
    val offHost = IndexJob.search(spark, r3.indexRoot, "spark filter join table", 100,
      facetWhere = Some("host = 'nowhere.example'")).collect()
    assert(offHost.isEmpty)
  }

  test("PipelineJob: a crash before any commit resumes to the uninterrupted result") {
    import java.nio.file.Paths
    import graft.jobs.{ExtractJob, PipelineJob}
    import graft.lake.LakeTable
    // the first 96 seeded pages plant exact and near duplicates; pages 165
    // and 224 carry the Newton passage
    val pages = ((0L until 96L) ++ Seq(165L, 224L)).toDS().map(i => PageGen.row(42L, i))
    def run(root: String) = PipelineJob.run(spark, pages, root, nBuckets = 4)
    def outcome(root: String, r: PipelineJob.Result) = {
      val dlake = new LakeTable(s"$root/dedup")
      (ExtractJob.readChunks(spark, s"$root/extract").orderBy("url", "chunk_index").collect().toSeq,
        spark.read.parquet(dlake.readManifest(dlake.currentVersion).files: _*)
          .collect().toSeq.sortBy(_.toString),
        r.dedupDropped,
        IndexJob.liveDocs(spark, s"$root/index").orderBy("doc").collect().toSeq,
        IndexJob.search(spark, s"$root/index", "newton raphson method", 10).collect()
          .map(h => (h.getString(0), h.getDouble(1))).toSeq)
    }
    val cleanRoot = Files.createTempDirectory("graft-pcrash-clean").toString
    val expected = outcome(cleanRoot, run(cleanRoot))
    assert(expected._2.nonEmpty && expected._5.nonEmpty)

    // a fresh run commits one snapshot per table, in this order: the
    // whole commit sequence of PipelineJob.run
    val sequence = Seq("extract", "dedup", "index", "pipeline")
    assert(sequence.map(t => new LakeTable(s"$cleanRoot/$t").currentVersion) == Seq(1, 1, 1, 1))
    for (k <- sequence.indices) {
      // the manifest's existence is the commit point, so "crashed just
      // before commit k" is a finished root whose manifests from k on are
      // back in the temp files they were published from — data files and
      // (now stale) hints stay as the crashed writer left them
      val root = Files.createTempDirectory("graft-pcrash").toString
      run(root)
      sequence.drop(k).foreach { t =>
        val meta = Paths.get(root, t, "metadata")
        Files.move(meta.resolve("v1.json"), meta.resolve(".crashed.tmp"))
      }
      assert(outcome(root, run(root)) == expected, s"crash before the ${sequence(k)} commit")
    }
  }
}
