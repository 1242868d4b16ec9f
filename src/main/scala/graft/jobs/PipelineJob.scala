package graft.jobs

import graft.PageRow
import graft.lake.LakeTable
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** The composed production pipeline — the reference driver's
  * discover → extract → chunk → dedup → index → commit loop
  * (src/services/RAG/convert_to_embeddings.py:504-748, SURVEY.md §3.1) as
  * ONE resumable run over one pipeline root:
  *
  *   ExtractJob.run   pages → chunk lake at  root/extract   (bucket resume)
  *   DedupJob.run     chunks → clean + dropped lineage at   root/dedup
  *   IndexJob         clean  → ONE BM25 index at            root/index
  *
  * Cross-stage resume: after dedup+index complete for extract version v,
  * the key `indexed-extract-v{v}` is committed to root/pipeline. A re-run
  * whose input produced no new extract version finds the key and skips
  * straight past both downstream stages — extract's own bucket fingerprints
  * already make stage 1 a no-op, so a fully quiesced pipeline run touches
  * only manifests (the reference's progress_store fast path).
  *
  * **Incremental index sync** (the reference's per-id upsert,
  * chroma_store.py:33-61): there is ONE index root for the pipeline's
  * lifetime. The first indexing run builds + compacts it; every later run
  * DIFFS the index's committed content identity (IndexJob.liveDocs —
  * (doc, dochash) from the doclen tables) against the current deduped
  * corpus:
  *
  *   toRemove = indexed ∖ corpus   on (doc, dochash)  → IndexJob.tombstone
  *   toAdd    = corpus  ∖ indexed  on (doc, dochash)  → IndexJob.build
  *
  * A changed page therefore costs one tombstone commit + one segment
  * append proportional to the CHANGE, not a rebuild of the whole corpus's
  * index — and the diff also absorbs dedup flips (a doc whose duplicate
  * vanished enters `toAdd`; a doc newly shadowed enters `toRemove`).
  * Content identity (not just id) is diffed, so a rewritten chunk id
  * (same `url#idx`, new text) lands in BOTH sets: its stale posting rows
  * die by tombstone while the appended segment re-adds the id live —
  * exactly the upsert semantics of the reference. Search over the synced
  * index is provably identical to a fresh build over the current clean
  * corpus (PipelineSpec asserts score equality).
  */
object PipelineJob {

  final case class Result(extractVersion: Int, indexRoot: String,
                          dedupDropped: Long, resumed: Boolean,
                          tombstoned: Long = 0, appended: Long = 0)

  def run(spark: SparkSession, pages: Dataset[PageRow], root: String,
          nBuckets: Int = 16, jaccardThreshold: Double = 0.8): Result = {
    spark.sparkContext.setJobDescription("pipeline:extract")
    val er = ExtractJob.run(spark, pages, s"$root/extract", nBuckets)
    spark.sparkContext.setJobDescription(null)
    val indexRoot = s"$root/index"
    val plake = new LakeTable(s"$root/pipeline")
    val stageKey = s"indexed-extract-v${er.version}"
    val done = plake.state.keyVersions.collectFirst {
      case (k, v) if k == stageKey => v
    }
    done match {
      case Some(v) =>
        val dropped = plake.readManifest(v).metrics("dropped")
        Result(er.version, indexRoot, dropped.toLong, resumed = true)
      case None =>
        // phase labels (guide §1.5): thread-local, purely diagnostic — the
        // UI/listeners can attribute the pipeline's jobs to stages
        def phase(p: String): Unit =
          spark.sparkContext.setJobDescription(s"pipeline:$p")
        phase("dedup")
        // stage 2: corpus-wide dedup over the extracted chunk relation.
        // Chunk identity is (url, chunk_index) — content-stable across
        // resumed runs, joinable back to the lake, and oracle-expressible.
        val chunks = ExtractJob.readChunks(spark, s"$root/extract")
        val docs = chunks.filter(!col("is_duplicate"))
          .select(concat(col("url"), lit("#"), col("chunk_index")).as("cid"),
            col("text"))
        val dr = DedupJob.run(spark, docs, urlCol = "cid", textCol = "text",
          jaccardThreshold = jaccardThreshold)

        // dropped lineage persisted like every other loser in the system —
        // recorded, not erased; count rides the write via observe()
        val dlake = new LakeTable(s"$root/dedup")
        val dv = dlake.currentVersion + 1
        phase("dedup-dropped-write")
        val obs = org.apache.spark.sql.Observation()
        dr.dropped.observe(obs, count(lit(1)).as("n"))
          .write.mode("overwrite").parquet(s"$root/dedup/data/v$dv/dropped")
        dlake.commit(dlake.listParquet(s"$root/dedup/data/v$dv"),
          Seq(s"dedup-extract-v${er.version}"), Nil, Map.empty)
        val nDropped = obs.get("n").asInstanceOf[Long]

        // stage 3: sync the ONE pipeline index to the cleaned corpus.
        // The url host rides along as a committed facet so the composed
        // index supports the reference's where=-filtered retrieval
        // (question_rag.py:130-194) out of the box.
        val clean = dr.clean.select(col("cid").as("id"), col("text"),
          lit(false).as("is_duplicate"),
          graft.text.TextAnalysis.urlHostCol(col("cid")).as("host"))
        val ilake = new LakeTable(indexRoot)
        val (nTomb, nAdd) =
          if (ilake.currentVersion == 0) {
            // first build: whole corpus as ONE segment — already the
            // single-live-segment state compaction exists to restore, so
            // compacting here would be an identity rewrite of every table
            // (no overlap to merge, no tombstones to purge; search equality
            // single-segment vs compacted is IndexExprSpec's invariant).
            // Callers appending further segments compact on their own
            // schedule, as the spec suite does.
            phase("index-build")
            IndexJob.build(spark, clean, indexRoot, facetCols = Seq("host"))
            (0L, -1L) // -1 = full build (appended count not tracked)
          } else { phase("index-sync"); incrementalSync(spark, clean, indexRoot) }

        // stage barrier: downstream stages for this extract version are done
        spark.sparkContext.setJobDescription(null)
        plake.commit(Nil, Seq(stageKey), Nil, Map("dropped" -> nDropped.toDouble))
        Result(er.version, indexRoot, nDropped, resumed = false,
          tombstoned = nTomb, appended = nAdd)
    }
  }

  /** Diff the committed index identity against the current corpus; commit
    * only the delta (one tombstone snapshot + one appended segment, either
    * skipped when empty). Returns (tombstoned, appended) doc counts —
    * driver-visible scalars for lineage, ridden on the writes (the
    * tombstone/build jobs themselves), not separate count() jobs. */
  private def incrementalSync(spark: SparkSession, clean: DataFrame,
                              indexRoot: String): (Long, Long) = {
    graft.functions.GraftFunctions.register(spark)
    val indexed = IndexJob.liveDocs(spark, indexRoot)
    val current = clean.select(col("id").as("doc"),
      graft.functions.GraftFunctions.md5Top64(col("text")).as("dochash"))
    // identity = (doc, dochash): same id with rewritten text shows up in
    // both deltas, which is exactly upsert
    val toRemove = indexed.join(current, Seq("doc", "dochash"), "left_anti")
    val toAdd = current.join(indexed, Seq("doc", "dochash"), "left_anti")
      .select("doc")
    // the deltas drive commit decisions (scalars) — their size is bounded
    // by the corpus CHANGE, not the corpus
    val nRemove = toRemove.count()
    val nAdd = toAdd.count()
    if (nRemove > 0) IndexJob.tombstone(spark, indexRoot, toRemove.select("doc"))
    if (nAdd > 0)
      IndexJob.build(spark,
        clean.join(toAdd.withColumnRenamed("doc", "id"), Seq("id"), "left_semi"),
        indexRoot, facetCols = Seq("host"))
    (nRemove, nAdd)
  }
}
