package graft.io

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite

/** Golden snapshot logs under `src/test/resources/snapshot-golden`,
  * written by the string-built manifest writer that preceded
  * [[LogCodec]] (only `_log` is kept — every reader here is
  * metadata-only). Each case's `readers.txt` records every reader's
  * answer as the regex readers of that release gave it, so these specs
  * prove that old manifests still read without relying on the new
  * writer:
  *
  *  - `full`: multi-column stats, null counts, rows, sizes, a partition
  *    column and a tag;
  *  - `segmented`: a manifest list and its `seg-*.json` files;
  *  - `epochs`: a column rename (`epochs`/`sepoch`, dataChange=false)
  *    across a segmented append and a rewrite;
  *  - `mor`: merge-on-read `dels`/`dirty`/`ndel`;
  *  - `ptrans`: non-identity hidden-partition transforms;
  *  - `compact`: a dataChange=false compaction;
  *  - `legacy`: a manifest without `ts`, a legacy `append@epoch<e>`
  *    action and a `(queryId, epoch)` txn action. */
class SnapshotLogCodecSpec extends AnyFunSuite {

  private val cases =
    Seq("full", "segmented", "epochs", "mor", "ptrans", "compact", "legacy")

  private def resource(path: String): File =
    new File(getClass.getResource(s"/snapshot-golden/$path").toURI)

  private def read(f: File) = new String(Files.readAllBytes(f.toPath), UTF_8)

  /** A fresh copy of one golden table's `_log`. */
  private def install(name: String): String = {
    val dir = Files.createTempDirectory(s"golden-$name").toString
    val log = new File(dir, "_log")
    log.mkdirs()
    resource(s"$name/_log").listFiles().foreach(f =>
      Files.copy(f.toPath, new File(log, f.getName).toPath))
    dir
  }

  /** Collection-type-agnostic rendering of a reader's answer. */
  private def show(x: Any): String = x match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString } + "\""
    case o: Option[_] => o.fold("None")(v => s"Some(${show(v)})")
    case m: Map[_, _] =>
      m.toSeq.map { case (k, v) => (show(k), show(v)) }.sortBy(_._1)
        .map { case (k, v) => s"$k->$v" }.mkString("{", ",", "}")
    case s: Set[_] => s.toSeq.map(show).sorted.mkString("{", ",", "}")
    case st: StructType => st.json
    case s: Seq[_] => s.map(show).mkString("[", ",", "]")
    case p: Product if p.productPrefix.startsWith("Tuple") =>
      p.productIterator.map(show).mkString("(", ",", ")")
    case other => other.toString
  }

  /** Every reader's answer for every version, one `key=value` line each
    * (a reader that throws records `!<exception class>`). */
  private def dump(dir: String): Seq[String] = {
    val st = SnapshotTable
    def line(k: String, f: => Any): String = {
      val r = try show(f) catch {
        case e: Exception => s"!${e.getClass.getSimpleName}"
      }
      s"$k=$r"
    }
    Seq(line("versions", st.versions(dir)),
      line("committedTxns", st.committedTxns(dir)),
      line("tags", st.tags(dir))) ++
      st.versions(dir).flatMap { v =>
        Seq(line(s"v$v.readManifest", st.readManifest(dir, v)),
          line(s"v$v.readAction", st.readAction(dir, v)),
          line(s"v$v.isDataChange", st.isDataChange(dir, v)),
          line(s"v$v.commitTimestamp", st.commitTimestamp(dir, v)),
          line(s"v$v.readSegments", st.readSegments(dir, v)),
          line(s"v$v.statsColumn", st.statsColumn(dir, v)),
          line(s"v$v.statsColumns", st.statsColumns(dir, v)),
          line(s"v$v.readAllStats", st.readAllStats(dir, v)),
          line(s"v$v.readNullCounts", st.readNullCounts(dir, v)),
          line(s"v$v.readRows", st.readRows(dir, v)),
          line(s"v$v.readSizes", st.readSizes(dir, v)),
          line(s"v$v.partitionColumns", st.partitionColumns(dir, v)),
          line(s"v$v.readPartTransforms", st.readPartTransforms(dir, v)),
          line(s"v$v.readPartValues", st.readPartValues(dir, v)),
          line(s"v$v.readEpochs", st.readEpochs(dir, v)),
          line(s"v$v.readSepoch", st.readSepoch(dir, v)),
          line(s"v$v.readDeletes", st.readDeletes(dir, v)),
          line(s"v$v.readDirty", st.readDirty(dir, v)),
          line(s"v$v.readNdel", st.readNdel(dir, v)),
          line(s"v$v.readSchema", st.readSchema(dir, v)),
          line(s"v$v.manifestCount", st.manifestCount(dir, v)),
          line(s"v$v.manifestMinMaxAll", st.manifestMinMaxAll(dir, v)))
      }
  }

  test("golden manifests decode to every answer the regex readers gave") {
    cases.foreach { c =>
      val want = read(resource(s"$c/readers.txt")).split("\n").toSeq
      val got = dump(install(c))
      assert(got.length == want.length, c)
      got.zip(want).foreach { case (g, w) => assert(g == w, c) }
    }
  }

  test("re-rendering a decoded golden file reproduces its bytes (same " +
    "keys, encodings and field order, compact)") {
    for (c <- cases; f <- resource(s"$c/_log").listFiles()
         if f.getName.endsWith(".json")) {
      val raw = read(f)
      val what = s"$c/${f.getName}"
      val again =
        if (f.getName == "tags.json")
          LogCodec.renderTags(LogCodec.decodeTags(raw))
        else if (f.getName.startsWith("seg-"))
          LogCodec.renderSegment(LogCodec.decodeSegment(raw, what))
        else LogCodec.decode(raw, what).fold(LogCodec.render, LogCodec.render)
      assert(again == raw, what)
    }
  }

  test("legacy tiers decode to None/empty and legacy actions keep their " +
    "meaning") {
    val st = SnapshotTable
    val legacy = install("legacy")
    assert(st.commitTimestamp(legacy, 1).isEmpty)
    assert(st.commitTimestamp(legacy, 2).contains(1700000018000L))
    assert(st.committedTxns(legacy) ==
      Set((st.LegacyTxnQueryId, 0L), ("q_1", 4L)))
    assert(st.committedEpochs(legacy, "q_1") == Set(0L, 4L))
    assert(st.readAction(legacy, 3) == "append")
    assert(st.readAllStats(legacy, 1).isEmpty)
    assert(st.readNullCounts(legacy, 1).isEmpty)
    assert(st.readPartValues(legacy, 1).isEmpty)
    assert(st.readSegments(legacy, 3).length == 2)
    assert(st.manifestCount(legacy, 3).contains(2L))

    val full = install("full")
    assert(st.statsColumns(full, 1) == Seq("id", "n"))
    assert(st.readNullCounts(full, 1) == Map("id" -> Seq(0L, 0L),
      "n" -> Seq(2L, 2L)))
    assert(st.readPartValues(full, 1).contains(
      Seq(Seq(Some("g0")), Seq(Some("g1")))))
    assert(st.tags(full) == Map("golden-1" -> 1))
    assert(st.manifestMinMaxAll(full, 1) ==
      Map("id" -> ((0L, 19L)), "n" -> ((2L, 38L))))

    val seg = install("segmented")
    assert(st.readSegments(seg, 3).length == 3)
    assert(st.readRows(seg, 3).map(_.sum).contains(30L))

    val ep = install("epochs")
    assert(!st.isDataChange(ep, 2))
    assert(st.readEpochs(ep, 3) == Seq(Seq("id", "s")))
    assert(st.readSepoch(ep, 3) == Seq(0, 1))
    assert(st.readSchema(ep, 3).get.fieldNames.toSeq == Seq("id", "label"))

    val mor = install("mor")
    assert(st.readNdel(mor, 3) == 2L)
    assert(st.readDirty(mor, 3).length == 2)
    assert(st.readDeletes(mor, 3).nonEmpty)
    assert(st.manifestCount(mor, 3).contains(8L))

    val pt = install("ptrans")
    assert(st.readPartTransforms(pt, 2) == Seq("trunc:5", "bucket:3"))
    assert(st.partitionColumns(pt, 2) == Seq("id", "s"))

    val cp = install("compact")
    assert(!st.isDataChange(cp, 3) && st.readAction(cp, 3) == "overwrite")
  }
}
