package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.io.Source
import scala.jdk.CollectionConverters._
import graft.{Hashing, PageRow}
import graft.corpus.PageGen
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's inputs, all derived from the seed: the page corpus, its
  * recrawl, the query mix, and the golden fixture the outputs are checked
  * against. */
object Load {

  /** The golden slice: pages 0..999 of seed 42, whose chunk ids are pinned
    * in `golden/chunks-1k.jsonl`. Every corpus starts with it, so the
    * byte-identity check runs at any seed. */
  val GoldenSeed = 42L
  val GoldenPages = 1000

  /** Corpus size: the golden slice plus 200 pages of the run's seed. Small,
    * because at this size the pipeline's cost is mostly per-job overhead,
    * and a whole run must stay near a minute. */
  val Pages = GoldenPages + 200

  /** A recrawl rewrites 3 in 10 of the seeded pages, uniformly over their
    * urls: 5% of a corpus of 1,000 golden and 200 seeded pages. */
  val RewriteTenths = 3

  def page(seed: Long, idx: Long): PageRow =
    if (idx < GoldenPages) PageGen.row(GoldenSeed, idx) else PageGen.row(seed, idx)

  def rewritten(seed: Long, idx: Long): Boolean =
    idx >= GoldenPages &&
      java.lang.Long.remainderUnsigned(Hashing.mix64(seed * 0x632be59bd9b4e019L + idx), 10) < RewriteTenths

  /** The same url with new content and a new crawl timestamp. */
  def recrawlPage(seed: Long, idx: Long): PageRow =
    if (rewritten(seed, idx)) PageGen.row(seed ^ 0x5deece66dL, idx) else page(seed, idx)

  val PageSchema: StructType = StructType(Seq(
    StructField("url", StringType), StructField("warc_ts", TimestampType),
    StructField("html", BinaryType), StructField("text", StringType),
    StructField("lang", StringType)))

  /** Writes pages [from, until) to parquet; returns their total page bytes. */
  def writePages(spark: SparkSession, from: Long, until: Long, seed: Long, recrawl: Boolean,
                 dir: String): Long = {
    import spark.implicits._
    val bytes = org.apache.spark.sql.Observation()
    spark.range(from, until, 1, spark.sparkContext.defaultParallelism)
      .map(i => if (recrawl) recrawlPage(seed, i) else page(seed, i))
      .observe(bytes, sum(octet_length(col("html"))).as("b"))
      .write.parquet(dir)
    bytes.get("b").asInstanceOf[Long]
  }

  /** Explicit schema: no footer-inference job. */
  def readPages(spark: SparkSession, dir: String): Dataset[PageRow] = {
    import spark.implicits._
    spark.read.schema(PageSchema).parquet(dir).as[PageRow]
  }

  final case class Query(text: String, facet: Option[String])

  val Newton = Query("newton raphson method", None)
  private val Rare = Seq("newton raphson method", "newton raphson iteration",
    "quadratically converges nonlinear equations", "successively better approximations roots")
  private val Common = Seq("convergence", "analysis", "throughput", "partitions", "variance",
    "corpora", "evaluation", "precision", "document", "stability", "sampling", "frequency",
    "distribution", "technical", "skewed", "extraction", "iterative", "derivative")

  /** The seeded query mix: the Newton query first, then rare terms, common
    * vocabulary terms, multi-term queries and host-faceted queries in turn,
    * so any stretch of four queries holds one of each kind. */
  def queries(seed: Long): Vector[Query] = Newton +: (1 until 48).toVector.map { i =>
    val r = Hashing.mix64(seed * 0x9e3779b97f4a7c15L + i) >>> 1
    def pick(xs: Seq[String], salt: Int): String =
      xs((Hashing.mix64(r + salt) >>> 1).%(xs.length.toLong).toInt)
    def multi: String = (0 until 3 + (r % 2).toInt).map(k => pick(Common, 10 + k)).mkString(" ")
    (i % 4) match {
      case 0 => Query(pick(Rare, 1), None)
      case 1 => Query(pick(Common, 2), None)
      case 2 => Query(multi, None)
      case _ => Query(multi, Some(s"host = 'host${(r >>> 8) % 97}.example'"))
    }
  }

  /** url -> ids_sha1 from the golden chunk fixture. */
  def goldenIds(path: String): Map[String, String] = {
    val src = Source.fromFile(path, "UTF-8")
    val Field = "\"(url|ids_sha1)\":\"([^\"]*)\"".r
    try src.getLines().filter(_.nonEmpty).map { line =>
      val f = Field.findAllMatchIn(line).map(m => m.group(1) -> m.group(2)).toMap
      f("url") -> f("ids_sha1")
    }.toMap
    finally src.close()
  }

  /** Share of golden urls whose committed chunk ids hash to the pinned
    * `ids_sha1` (sha1 of the ids in chunk order, comma-joined). */
  def goldenMatchRate(spark: SparkSession, chunks: DataFrame, golden: Map[String, String]): Double = {
    import spark.implicits._
    val urls = golden.keys.toSeq.toDF("url")
    val got = chunks.join(broadcast(urls), Seq("url"), "left_semi")
      .select("url", "chunk_index", "id").as[(String, Int, String)].collect()
      .groupBy(_._1).map { case (u, rs) => u -> Hashing.sha1Hex(rs.sortBy(_._2).map(_._3).mkString(",")) }
    golden.count { case (u, h) => got.get(u).contains(h) }.toDouble / golden.size
  }

  def dirBytes(dir: String): Long = walk(dir).map(Files.size).sum

  def countFiles(dir: String, p: Path => Boolean): Long = walk(dir).count(p).toLong

  private def walk(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toVector finally s.close()
    }
  }

  def deleteTree(dir: String): Unit = {
    val root = Paths.get(dir)
    if (Files.exists(root)) {
      val s = Files.walk(root)
      try s.iterator().asScala.toVector.reverse.foreach(Files.delete) finally s.close()
    }
  }
}
