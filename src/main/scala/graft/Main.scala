package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.ListMap

/** spark-submit entrypoint — the engine's CLI, mirroring the reference
  * driver's command surface (main.py / convert_to_embeddings.py) so a
  * reference user can run every stage without writing Scala:
  *
  *   spark-submit --class graft.Main engine.jar <command> <args...>
  *
  *   pipeline  <pagesParquet> <root> [nBuckets] [jaccard]   extract→dedup→index
  *   extract   <pagesParquet> <tableRoot> [nBuckets]        resumable extraction
  *   dedup     <docsParquet> <outDir> [jaccard]             corpus dedup + lineage
  *   index     <chunksParquet> <indexRoot>                  append a BM25 segment
  *   compact   <indexRoot>                                  merge live segments
  *   tombstone <indexRoot> <docIdsParquet>                  per-doc delete markers
  *   search    <indexRoot> <query> [k] [facetWhere]         BM25 over the index
  *   ann-build <vecParquet> <indexRoot> [nCells] [dim]      materialized IVF
  *   ann-search <indexRoot> <queryParquet> [k] [nProbe] [dim]
  *   ann-compact <indexRoot>                                merge cell segments
  *   ann-tombstone <indexRoot> <idsParquet>                 per-id delete markers
  *   audit     <parquet> <idCol> <textCol>                  data-quality contracts
  *   diff      <oldParquet> <newParquet> <idCol> <outDir>   snapshot CDC
  *
  * Input schemas are the engine's public row types: pages
  * (url, warc_ts, html, text, lang), docs (url, text), chunks
  * (id, text, is_duplicate[, facets...]), vectors (id, vec).
  * Master/resources come from spark-submit; local defaults let
  * `sbt "runMain graft.Main ..."` work too. Results print as one JSON
  * line on stdout (the Bench/Verify convention).
  */
object Main {

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, usage)
    // spark-submit supplies spark.master as a system property; absent that
    // (plain `sbt runMain`), default to local mode as the scaladoc promises
    val builder = SparkSession.builder()
      .appName(s"graft-${args.head}")
      .config("spark.sql.session.timeZone", "UTC")
    if (!sys.props.contains("spark.master") && !sys.env.contains("MASTER"))
      builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")}]")
        .config("spark.sql.shuffle.partitions",
          sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, args.toList)
    finally spark.stop()
  }

  /** Package-visible for specs: local mode shares one SparkContext per JVM,
    * so tests drive commands through here rather than main() (whose
    * finally-stop would kill the shared session). */
  private[graft] def run(spark: SparkSession, args: List[String]): Unit = {
    import spark.implicits._
    args match {
      case "pipeline" :: pages :: root :: rest =>
        val nBuckets = rest.headOption.map(_.toInt).getOrElse(64)
        val jaccard = rest.lift(1).map(_.toDouble).getOrElse(0.8)
        val r = jobs.PipelineJob.run(spark,
          spark.read.parquet(pages).as[PageRow], root, nBuckets, jaccard)
        println(Json.obj("command" -> "pipeline", "extract_version" -> r.extractVersion,
          "index_root" -> r.indexRoot, "dedup_dropped" -> r.dedupDropped, "resumed" -> r.resumed))

      case "extract" :: pages :: tableRoot :: rest =>
        val nBuckets = rest.headOption.map(_.toInt).getOrElse(64)
        val r = jobs.ExtractJob.run(spark,
          spark.read.parquet(pages).as[PageRow], tableRoot, nBuckets)
        println(Json.obj("command" -> "extract", "version" -> r.version, "docs" -> r.docs,
          "chunks" -> r.chunks, "errs" -> r.errs, "retried" -> r.retried))

      case "dedup" :: docs :: outDir :: rest =>
        val jaccard = rest.headOption.map(_.toDouble).getOrElse(0.8)
        val r = jobs.DedupJob.run(spark, spark.read.parquet(docs),
          jaccardThreshold = jaccard)
        r.clean.write.mode("overwrite").parquet(s"$outDir/clean")
        r.dropped.write.mode("overwrite").parquet(s"$outDir/dropped")
        val (c, d) = (spark.read.parquet(s"$outDir/clean").count(),
          spark.read.parquet(s"$outDir/dropped").count())
        println(Json.obj("command" -> "dedup", "clean" -> c, "dropped" -> d, "out" -> outDir))

      case "index" :: chunks :: indexRoot :: Nil =>
        val df = spark.read.parquet(chunks)
        val facetCols = df.columns.toSeq.filterNot(Set("id", "text", "is_duplicate"))
        val v = jobs.IndexJob.build(spark, df, indexRoot, facetCols)
        println(Json.obj("command" -> "index", "segment" -> v, "facets" -> facetCols.size))

      case "compact" :: indexRoot :: Nil =>
        val v = jobs.IndexJob.compact(spark, indexRoot)
        println(Json.obj("command" -> "compact", "segment" -> v))

      case "search" :: indexRoot :: query :: rest =>
        val k = rest.headOption.map(_.toInt).getOrElse(10)
        val where = rest.lift(1)
        val hits = jobs.IndexJob.search(spark, indexRoot, query, k, where).collect()
        println(Json.obj("command" -> "search", "k" -> k,
          "hits" -> hits.toSeq.map(r => ListMap("doc" -> r.getString(0), "score" -> r.getDouble(1)))))

      case "ann-build" :: vecs :: indexRoot :: rest =>
        val nCells = rest.headOption.map(_.toInt).getOrElse(256)
        val dim = rest.lift(1).map(_.toInt).getOrElse(64)
        val v = jobs.AnnIndexJob.build(spark, spark.read.parquet(vecs),
          "id", "vec", indexRoot, nCells, dim)
        println(Json.obj("command" -> "ann-build", "segment" -> v))

      case "ann-search" :: indexRoot :: queries :: rest =>
        val k = rest.headOption.map(_.toInt).getOrElse(10)
        val nProbe = rest.lift(1).map(_.toInt).getOrElse(8)
        val dim = rest.lift(2).map(_.toInt).getOrElse(64)
        val n = jobs.AnnIndexJob.search(spark, indexRoot,
          spark.read.parquet(queries), "id", "vec", k, nProbe, dim).count()
        println(Json.obj("command" -> "ann-search", "result_rows" -> n))

      case "tombstone" :: indexRoot :: ids :: Nil =>
        val df = spark.read.parquet(ids)
        val v = jobs.IndexJob.tombstone(spark, indexRoot,
          df.select(col(df.columns.head).as("doc")))
        println(Json.obj("command" -> "tombstone", "segment" -> v))

      case "ann-compact" :: indexRoot :: Nil =>
        val v = jobs.AnnIndexJob.compact(spark, indexRoot)
        println(Json.obj("command" -> "ann-compact", "segment" -> v))

      case "ann-tombstone" :: indexRoot :: ids :: Nil =>
        val df = spark.read.parquet(ids)
        val v = jobs.AnnIndexJob.tombstone(spark, indexRoot,
          df.select(col(df.columns.head).as("id")))
        println(Json.obj("command" -> "ann-tombstone", "segment" -> v))

      case "audit" :: path :: idCol :: textCol :: Nil =>
        val df = spark.read.parquet(path)
        val out = audit.Contracts.run(df, Seq(
          audit.Contracts.completeness("complete_text", col(textCol), 0.95),
          audit.Contracts.uniqueness("unique_id", col(idCol), 1.0))).collect()
        println(Json.obj("command" -> "audit", "checks" -> out.toSeq.map(r =>
          ListMap("chk" -> r.getString(0), "metric" -> r.getDouble(1), "pass" -> r.getBoolean(3)))))

      case "diff" :: oldP :: newP :: idCol :: outDir :: Nil =>
        val o = spark.read.parquet(oldP); val n = spark.read.parquet(newP)
        val compare = o.columns.toSeq.intersect(n.columns.toSeq)
          .filterNot(_ == idCol)
        val d = lake.Cdc.diff(o, n, Seq(idCol), compare)
        d.write.mode("overwrite").parquet(outDir)
        val byOp = spark.read.parquet(outDir).groupBy("op").count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        println(Json.obj("command" -> "diff", "insert" -> byOp.getOrElse("insert", 0L),
          "update" -> byOp.getOrElse("update", 0L), "delete" -> byOp.getOrElse("delete", 0L),
          "out" -> outDir))

      case other => throw new IllegalArgumentException(
        s"unknown command: ${other.headOption.getOrElse("")}\n$usage")
    }
  }

  private val usage: String =
    """usage: graft.Main <pipeline|extract|dedup|index|compact|tombstone|search|ann-build|ann-search|ann-compact|ann-tombstone|audit|diff> <args...>
      |see the object scaladoc for per-command arguments""".stripMargin
}
