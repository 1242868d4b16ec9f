package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.lake.LakeTable

/** The lake's commit point and codec: manifests round-trip hostile
  * strings (quotes, backslashes, control chars, unicode, JSON brackets),
  * the published manifest — not the hint — is the commit, and anything
  * that cannot round-trip fails loudly. */
class ManifestSpec extends AnyFunSuite {

  test("manifest roundtrips nasty strings byte-exactly") {
    val root = Files.createTempDirectory("graft-manifest").toString
    val lake = new LakeTable(root)
    val nastyFile = s"""$root/we"ird\\path\nwith\tctrl.parquet"""
    val lineage = Seq(
      Map("bucket" -> "0", "url_lo" -> "https://a.example/x?q=\"1\"&b=\\2",
        "note" -> "line1\nline2\ttabbed", "uni" -> "emoji é中"),
      Map("bucket" -> "1", "url_lo" -> "https://b.example/a}b{c]d[e", "note" -> "v}]"),
      Map("bucket" -> "2", "url_lo" -> "plain"))
    // ']' in a path and '}'/'{'/'[' in lineage values are the parser's field
    // terminators — the codec must escape them or committed data goes invisible
    val bracketFile = s"$root/part-[0]{x}.parquet"
    val metrics = Map("docs" -> 12.0, "neg" -> -3.5, "sci" -> 1.25e-7)
    val v = lake.commit(Seq(nastyFile, bracketFile, "normal.parquet"),
      Seq("k\"1", "k\\2", "k]3", "k}4"), lineage, metrics)
    assert(v == 1)

    val m = new LakeTable(root).readManifest(1)
    assert(m.files == Seq(nastyFile, bracketFile, "normal.parquet"))
    assert(m.keys == Seq("k\"1", "k\\2", "k]3", "k}4"))
    assert(m.lineage == lineage)
    assert(m.metrics == metrics)
  }

  private def meta(root: String, name: String): Path = Paths.get(root, "metadata", name)
  private def metaNames(root: String): Seq[String] =
    Paths.get(root, "metadata").toFile.list().toSeq.sorted

  test("crashed writer: a published manifest behind a stale hint is committed, not a wedge") {
    val root = Files.createTempDirectory("graft-crash").toString
    val lake = new LakeTable(root)
    lake.commit(Nil, Seq("0"), Nil, Map.empty) // v1, hint 1
    // a writer that died after publishing v2 but before moving the hint
    val v2 = """{"version":2,"parent":1,"files":[],"keys":["1"],"lineage":[],"metrics":{}}"""
      .getBytes(UTF_8)
    Files.write(meta(root, "v2.json"), v2)
    assert(new String(Files.readAllBytes(Paths.get(root, "version-hint.text")), UTF_8) == "1")
    val again = new LakeTable(root)
    assert(again.currentVersion == 2)
    assert(again.committedKeys == Set("0", "1"))
    assert(again.commit(Nil, Seq("2"), Nil, Map.empty) == 3)
    assert(Files.readAllBytes(meta(root, "v2.json")).sameElements(v2))
    assert(new LakeTable(root).committedKeys == Set("0", "1", "2"))
  }

  // a racing writer that computed the same version: publishing onto the
  // winner's manifest name fails and keeps the winner's bytes
  test("concurrent commit at the same version fails loudly, not silently") {
    val root = Files.createTempDirectory("graft-race").toString
    val lake = new LakeTable(root)
    lake.commit(Nil, Seq("0"), Nil, Map.empty)
    val winner = Files.readAllBytes(meta(root, "v1.json"))
    intercept[FileAlreadyExistsException] {
      lake.publish(meta(root, "v1.json"), "{}".getBytes(UTF_8))
    }
    assert(Files.readAllBytes(meta(root, "v1.json")).sameElements(winner))
    // the loser's temp file is cleaned up
    assert(metaNames(root) == Seq("v1.json"))
  }

  test("stray temp files are never read as manifests") {
    val root = Files.createTempDirectory("graft-stray").toString
    val lake = new LakeTable(root)
    lake.commit(Nil, Seq("0"), Nil, Map.empty)
    // what a writer killed between temp write and link leaves behind
    Files.write(meta(root, ".4242.tmp"), "{\"version\":".getBytes(UTF_8))
    Files.delete(Paths.get(root, "version-hint.text")) // force the listing path
    val again = new LakeTable(root)
    assert(again.currentVersion == 1)
    assert(again.commit(Nil, Seq("1"), Nil, Map.empty) == 2)
    assert(new LakeTable(root).committedKeys == Set("0", "1"))
    assert(metaNames(root).count(_.matches("v\\d+\\.json")) == 2)
  }

  test("a non-finite metric is rejected at commit, naming the key") {
    val root = Files.createTempDirectory("graft-nan").toString
    val lake = new LakeTable(root)
    for (bad <- Seq(Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity)) {
      val e = intercept[IllegalArgumentException] {
        lake.commit(Nil, Seq("0"), Nil, Map("docs" -> 1.0, "avgdl" -> bad))
      }
      assert(e.getMessage.contains("avgdl"), e.getMessage)
    }
    assert(lake.currentVersion == 0)
  }

  test("readManifest fails naming the file on a missing field or a non-numeric metric") {
    val root = Files.createTempDirectory("graft-badmeta").toString
    Files.createDirectories(Paths.get(root, "metadata"))
    val cases = Seq(
      """{"version":1,"parent":0,"files":[],"keys":[],"lineage":[]}""",           // no metrics
      """{"version":1,"parent":0,"keys":[],"lineage":[],"metrics":{}}""",         // no files
      """{"version":1,"parent":0,"files":[],"keys":[],"lineage":[],"metrics":{"x":"7"}}""",
      """{"version":1,"parent":0,"files":[],"keys":[],"lineage":[],"metrics":{"x":NaN}}""")
    for (json <- cases) {
      Files.write(meta(root, "v1.json"), json.getBytes(UTF_8))
      val e = intercept[java.io.IOException](new LakeTable(root).readManifest(1))
      assert(e.getMessage.contains(meta(root, "v1.json").toString), e.getMessage)
    }
  }

  test("manifests and checkpoints in the original hand-written format read back unchanged") {
    val root = Files.createTempDirectory("graft-compat").toString
    Files.createDirectories(Paths.get(root, "metadata"))
    // byte-exact files of the former hand-rolled codec: brackets and braces
    // as unicode escapes, a U+0001 control char, raw UTF-8 non-ASCII, and
    // metrics in Double.toString form (1.25E-7)
    for (name <- Seq("v1.json", "ckpt-v1.json"))
      Files.copy(getClass.getResourceAsStream(s"/lake/legacy-format/$name"), meta(root, name))
    val files = Seq("/lake/data/v1/part-[0]{x}.parquet", "/lake/data/v1/ctrl\u0001é中.parquet")
    val keys = Seq("b=0:fp=7", "k]3|x", "k\"q\\s")
    val m = new LakeTable(root).readManifest(1)
    assert(m.version == 1 && m.parent == 0)
    assert(m.files == files && m.keys == keys)
    assert(m.lineage == Seq(Map("bucket" -> "0", "url_lo" -> "https://a.example/a}b{c]d[e",
      "note" -> "tab\there\nnl\u0001", "uni" -> "emoji é中 😀")))
    assert(m.metrics == Map("docs" -> 12.0, "neg" -> -3.5, "sci" -> 1.25e-7))
    // with the manifest gone, state resolves from the checkpoint alone
    Files.delete(meta(root, "v1.json"))
    val st = new LakeTable(root).state
    assert(st.keyVersions == keys.map(_ -> 1))
    assert(st.fileVersions == files.map(_ -> 1))
  }
}
