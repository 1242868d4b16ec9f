package graft.lake

import com.fasterxml.jackson.databind.JsonNode
import graft.Json
import java.io.IOException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.{ListMap, TreeMap}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import LakeTable.{CkptName, ManifestName}

/** Minimal Iceberg-style snapshot layer over Parquet.
  *
  * No Iceberg runtime ships in /opt/spark/jars and coursier is offline
  * (SURVEY.md §7.1.2), so the engine provides the three properties the
  * north rule actually depends on, from scratch:
  *
  *  1. **One commit point** — data files land under `data/`, then the
  *     complete `metadata/v{N}.json` manifest is *published*: written to a
  *     temp file in `metadata/` and hard-linked (`Files.createLink`) to its
  *     final name. A link fails if the name exists, so a manifest is
  *     visible only when complete and can never be replaced; its existence
  *     IS the commit (Iceberg's hadoop-catalog rule). A crashed writer
  *     leaves garbage data/temp files but never a partial snapshot, and a
  *     racing writer loses with `FileAlreadyExistsException` instead of
  *     clobbering the winner. (A rename would replace on POSIX; on an
  *     object store the link becomes a conditional put.)
  *  2. **Per-partition lineage + metrics committed with the snapshot** —
  *     the manifest embeds the lineage rows (the reference's progress
  *     ledger, progress_store.py:33-61) and metrics rows (billing ledger,
  *     billing.py:14-72); they become visible in the same publish.
  *  3. **Checkpoint resume** — `committedKeys` is the set of work-unit keys
  *     (e.g. url-hash buckets) already in committed snapshots; planning
  *     anti-joins against it (progress_store.py:54-61 semantics).
  *
  * **Hints are caches.** `version-hint.text` and `checkpoint-hint.text`
  * are rewritten best-effort after each publish. A hint counts only if the
  * file it names exists; [[currentVersion]] starts from the newer counting
  * hint and probes `v{n+1}.json, v{n+2}.json, …` until one is missing, and
  * lists `metadata/` only when neither hint counts. So a writer that died
  * between publish and hint costs readers one probe, and the next commit
  * lands after its manifest instead of colliding with it forever.
  *
  * **Checkpointed planning state** (the reference's progress-file-rewrite
  * problem, solved the Iceberg way): every `checkpointInterval` commits the
  * table publishes a consolidated `metadata/ckpt-vN.json` holding
  * (key → version) and (file → version) for everything committed so far.
  * Readers resolve `state` from the latest checkpoint + the ≤interval
  * manifests after it — O(interval) reads instead of O(versions) — so a
  * 10^4-commit table plans as fast as a 10-commit one, and manifests at or
  * below a checkpoint may be pruned. The checkpoint is a pure cache:
  * deleting it (or crashing before it is written) only slows readers down.
  *
  * Manifests and checkpoints are JSON through [[graft.Json]]; the field
  * names and the `"v|key"` checkpoint entries are the format tables have
  * always been written in.
  */
final class LakeTable(val root: String, val checkpointInterval: Int = 16) {

  private def metaDir: Path = Paths.get(root, "metadata")
  private def hintFile: Path = Paths.get(root, "version-hint.text")
  private def ckptHintFile: Path = Paths.get(root, "checkpoint-hint.text")
  private def manifestPath(v: Int): Path = metaDir.resolve(s"v$v.json")
  private def ckptPath(v: Int): Path = metaDir.resolve(s"ckpt-v$v.json")

  /** Newest committed version (0 = empty table). */
  def currentVersion: Int = {
    var v = (hint(hintFile, manifestPath) ++ hint(ckptHintFile, ckptPath)).maxOption
      .getOrElse(metaNames.collect { case ManifestName(n) => n.toInt; case CkptName(n) => n.toInt }
        .maxOption.getOrElse(0))
    while (Files.exists(manifestPath(v + 1))) v += 1
    v
  }

  /** Version of the newest consolidated checkpoint (0 = none). */
  def checkpointVersion: Int = hint(ckptHintFile, ckptPath).getOrElse(0)

  /** The version a hint file holds, if it parses and the file it names
    * exists (a hint naming deleted metadata never counts). */
  private def hint(file: Path, named: Int => Path): Option[Int] =
    try Some(new String(Files.readAllBytes(file), UTF_8).trim.toInt).filter(v => Files.exists(named(v)))
    catch { case _: IOException | _: NumberFormatException => None }

  private def metaNames: Seq[String] =
    if (!Files.isDirectory(metaDir)) Nil
    else {
      val stream = Files.list(metaDir)
      try stream.iterator().asScala.map(_.getFileName.toString).toList
      finally stream.close()
    }

  /** Consolidated table state: every committed key and data file, each
    * tagged with the version that committed it (later commits of the same
    * key win). Resolved from the newest checkpoint + the manifests after
    * it. */
  final case class State(keyVersions: Seq[(String, Int)], fileVersions: Seq[(String, Int)])

  def state: State = stateAt(currentVersion)

  /** State as of snapshot `upTo` (time travel): newest checkpoint at or
    * before `upTo`, plus the manifests after it. Versions are immutable
    * once committed, so any historical snapshot replans exactly. */
  def stateAt(upTo: Int): State = {
    val cur = math.min(upTo, currentVersion)
    val cv = latestCheckpointAtOrBefore(cur)
    val base = if (cv > 0) readCheckpoint(cv) else State(Nil, Nil)
    val kv = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    base.keyVersions.foreach { case (k, v) => kv.update(k, v) }
    val fv = scala.collection.mutable.ArrayBuffer.empty[(String, Int)]
    fv ++= base.fileVersions
    var v = cv + 1
    while (v <= cur) {
      val m = readManifest(v)
      m.keys.foreach(k => kv.update(k, v))
      fv ++= m.files.map(_ -> v)
      v += 1
    }
    State(kv.toSeq, fv.toSeq)
  }

  /** Newest checkpoint version ≤ `v`: the hint if it qualifies, else a
    * directory scan for older ckpt files (time travel before the newest
    * checkpoint is rare; O(versions) listing is acceptable there). */
  private def latestCheckpointAtOrBefore(v: Int): Int = {
    val hinted = checkpointVersion
    if (hinted >= 1 && hinted <= v) hinted
    else metaNames.collect { case CkptName(n) if n.toInt <= v => n.toInt }.maxOption.getOrElse(0)
  }

  /** All data files across committed snapshots (append-table semantics). */
  def dataFiles: Seq[String] = state.fileVersions.map(_._1)

  def committedKeys: Set[String] = state.keyVersions.map(_._1).toSet

  final case class Manifest(version: Int, parent: Int, files: Seq[String],
                            keys: Seq[String], lineage: Seq[Map[String, String]],
                            metrics: Map[String, Double])

  /** Commit one snapshot: the parquet files under `dataSubdir` (already
    * written by the caller via df.write), the work-unit keys they cover,
    * lineage rows, and metrics. The publish of the manifest is the commit;
    * a racing committer of the same version fails with
    * `FileAlreadyExistsException` (single-writer is the design, as in the
    * reference's driver loop). Metrics must be finite: JSON has no NaN or
    * Infinity, and a metric that cannot be read back must not commit. */
  def commit(files: Seq[String], keys: Seq[String],
             lineage: Seq[Map[String, String]], metrics: Map[String, Double]): Int = {
    metrics.foreach { case (k, x) =>
      require(x.isFinite, s"metric '$k' is $x; a manifest holds only finite numbers") }
    val v = currentVersion + 1
    publish(manifestPath(v), Json.mapper.writeValueAsBytes(ListMap(
      "version" -> v, "parent" -> (v - 1), "files" -> files, "keys" -> keys,
      "lineage" -> lineage.map(row => TreeMap(row.toSeq: _*)),
      "metrics" -> TreeMap(metrics.toSeq: _*))))
    cacheHint(hintFile, v)
    // best-effort: the checkpoint is a pure cache and the commit above is
    // already published — a transient IO error must not surface as a
    // commit failure. Readers fall back to walking manifests.
    try maybeCheckpoint(v) catch { case _: IOException => () }
    v
  }

  /** Publish a consolidated checkpoint when `checkpointInterval` commits
    * have accumulated since the last one. Computing the state here reads at
    * most `interval` manifests (previous checkpoint + tail), keeping commit
    * cost amortized O(1) per version. */
  private def maybeCheckpoint(v: Int): Unit =
    if (checkpointInterval > 0 && v - checkpointVersion >= checkpointInterval) {
      val st = stateAt(v)
      publish(ckptPath(v), Json.mapper.writeValueAsBytes(ListMap("version" -> v,
        "key_versions" -> st.keyVersions.map { case (k, kv) => s"$kv|$k" },
        "file_versions" -> st.fileVersions.map { case (f, fv) => s"$fv|$f" })))
      cacheHint(ckptHintFile, v)
    }

  /** Make `bytes` visible at `path` whole or not at all, never replacing
    * an existing file: temp write, then a hard link, which fails with
    * `FileAlreadyExistsException` if the name exists. Temp names never
    * match `v\d+\.json`, so a stray one is never read as a manifest. */
  private[graft] def publish(path: Path, bytes: Array[Byte]): Unit =
    viaTemp(bytes)(Files.createLink(path, _))

  /** Rewrite a hint; readers verify and probe past it, so failing here
    * only costs them a probe or a listing. */
  private def cacheHint(file: Path, v: Int): Unit =
    try viaTemp(v.toString.getBytes(UTF_8))(
      Files.move(_, file, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING))
    catch { case _: IOException => () }

  /** Write `bytes` to a fresh temp file in `metadata/`, hand it to `place`,
    * and remove whatever of it is left. */
  private def viaTemp(bytes: Array[Byte])(place: Path => Unit): Unit = {
    Files.createDirectories(metaDir)
    val tmp = Files.createTempFile(metaDir, ".", ".tmp")
    try { Files.write(tmp, bytes); place(tmp) }
    finally Files.deleteIfExists(tmp)
  }

  def read(spark: SparkSession): DataFrame = {
    val files = dataFiles
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Time-travel read: the table exactly as of snapshot `version`. */
  def readAt(spark: SparkSession, version: Int): DataFrame = {
    val files = stateAt(version).fileVersions.map(_._1)
    if (files.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(files: _*)
  }

  /** Manifest of snapshot `v`; fails naming the file if it is not valid
    * JSON or a field is missing or mistyped (a metric that cannot be read
    * never reads as 0). */
  def readManifest(v: Int): Manifest = parsed(manifestPath(v)) { j =>
    Manifest(int(j, "version"), int(j, "parent"), strings(j, "files"), strings(j, "keys"),
      elements(j, "lineage", _.isObject).map(row => fields(row).map { case (k, x) =>
        k -> expect(x, _.isTextual, s"lineage '$k' is not a string").textValue }),
      fields(expect(j.get("metrics"), _.isObject, "no 'metrics' object")).map { case (k, x) =>
        k -> expect(x, _.isNumber, s"metric '$k' is not a number").doubleValue })
  }

  private def readCheckpoint(v: Int): State = parsed(ckptPath(v)) { j =>
    def versioned(field: String): Seq[(String, Int)] =
      strings(j, field).map { s =>
        val cut = s.indexOf('|')
        (s.substring(cut + 1), s.substring(0, cut).toInt)
      }
    State(versioned("key_versions"), versioned("file_versions"))
  }

  /** Parse one metadata file; any fault in its content fails naming it. */
  private def parsed[T](path: Path)(build: JsonNode => T): T = {
    val bytes = Files.readAllBytes(path)
    try build(Json.mapper.readTree(bytes))
    catch { case NonFatal(e) => throw new IOException(s"unreadable lake metadata $path: ${e.getMessage}", e) }
  }

  private def expect(node: JsonNode, ok: JsonNode => Boolean, what: => String): JsonNode =
    if (node != null && ok(node)) node else throw new IllegalArgumentException(what)

  private def int(j: JsonNode, field: String): Int =
    expect(j.get(field), _.canConvertToExactIntegral, s"no integer '$field'").intValue

  private def elements(j: JsonNode, field: String, ok: JsonNode => Boolean): Seq[JsonNode] =
    expect(j.get(field), _.isArray, s"no '$field' array").asScala.toSeq
      .map(expect(_, ok, s"unexpected element in '$field'"))

  private def strings(j: JsonNode, field: String): Seq[String] =
    elements(j, field, _.isTextual).map(_.textValue)

  private def fields(j: JsonNode): Map[String, JsonNode] =
    j.properties().asScala.map(e => e.getKey -> e.getValue).toMap

  /** List parquet part-files under a directory (helper for callers that
    * just wrote with df.write.parquet). */
  def listParquet(dir: String): Seq[String] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val stream = Files.walk(p)
      // absolute+normalized at record time: manifest entries must join
      // exactly against scan-side provenance regardless of how the caller
      // spelled the table root (a relative root reaches here via the CLI)
      try stream.iterator().asScala
        .filter(f => f.toString.endsWith(".parquet") && Files.isRegularFile(f))
        .map(_.toAbsolutePath.normalize.toString).toSeq.sorted
      finally stream.close()
    }
  }
}

object LakeTable {
  private val ManifestName = "v(\\d+)\\.json".r
  private val CkptName = "ckpt-v(\\d+)\\.json".r
}
