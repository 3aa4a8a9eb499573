package graft.io

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Base64

import scala.collection.immutable.ArraySeq

import org.apache.spark.sql.types.{DataType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One version of a [[SnapshotTable]] as its manifest records it — or
  * one SEGMENT of a segmented version, which records only the per-file
  * tiers. Every per-file sequence is aligned with `files`. A tier the
  * manifest does not record decodes to None/empty: legacy manifests
  * predate most tiers, and readers decline the metadata answer a
  * missing tier would have given (never guess).
  *
  * @param ts         commit wall-clock (epoch millis); None on a
  *                   manifest that predates timestamped commits
  * @param dataChange false only for rewrite-only maintenance commits
  *                   (compaction, rename) — the change feed skips them
  * @param stats      per-file (min, max) per stats column; the FIRST is
  *                   the primary (compact's range-cluster column)
  * @param nulls      per-file NULL counts per stats column (IS NULL /
  *                   IS NOT NULL pruning)
  * @param rows       per-file row counts (count(*) from metadata)
  * @param sizes      per-file byte sizes (scan statistics and splits
  *                   without a status call per file)
  * @param pcols      partition columns (transform source names)
  * @param pvals      per-file partition tuples, aligned with `pcols`;
  *                   None inside a tuple is a NULL value
  * @param ptrans     transform specs parallel to `pcols` as recorded —
  *                   empty when every column is identity
  * @param dels       merge-on-read delete sidecars in force
  * @param dirty      the data files those sidecars apply to (⊆ files)
  * @param ndel       live positionally-deleted row count
  * @param epochs     CLOSED rename epochs' full column-name lists
  * @param sepoch     per-file rename-epoch index (present exactly when
  *                   the table was ever renamed)
  * @param schema     the table schema at this version */
private[io] final case class Manifest(
    version: Int = 0,
    action: String = "",
    ts: Option[Long] = None,
    dataChange: Boolean = true,
    files: Seq[String] = Nil,
    stats: Seq[(String, Seq[(Long, Long)])] = Nil,
    nulls: Seq[(String, Seq[Long])] = Nil,
    rows: Option[Seq[Long]] = None,
    sizes: Option[Seq[Long]] = None,
    pcols: Seq[String] = Nil,
    pvals: Option[Seq[Seq[Option[String]]]] = None,
    ptrans: Seq[String] = Nil,
    dels: Seq[String] = Nil,
    dirty: Seq[String] = Nil,
    ndel: Long = 0L,
    epochs: Seq[Seq[String]] = Nil,
    sepoch: Option[Seq[Int]] = None,
    schema: Option[StructType] = None) {

  /** Transform specs parallel to `pcols`, `"id"`-filled when none were
    * recorded (identity partitioning, or a manifest predating
    * transforms). */
  def transforms: Seq[String] =
    if (ptrans.nonEmpty) ptrans else pcols.map(_ => "id")

  /** These files only — the ones `keep` accepts, in manifest order —
    * with every per-file tier kept aligned. Merge-on-read state is the
    * caller's to restate. */
  def retain(keep: String => Boolean): Manifest = {
    val idx = files.indices.filter(i => keep(files(i)))
    def pick[T](xs: Seq[T]): Seq[T] = idx.map(xs)
    copy(files = pick(files),
      stats = stats.map { case (c, mm) => (c, pick(mm)) },
      nulls = nulls.map { case (c, ns) => (c, pick(ns)) },
      rows = rows.map(pick), sizes = sizes.map(pick),
      pvals = pvals.map(pick), sepoch = sepoch.map(pick))
  }
}

/** A SEGMENTED version (the O(delta)-per-commit append path): `head`
  * holds the commit's global fields (action, clock, merge-on-read
  * state, rename epochs, schema) and no per-file tier; the per-file
  * tiers live in the named segment files under `_log`. */
private[io] final case class ManifestList(head: Manifest,
                                          segments: Seq[String]) {

  /** The version as one [[Manifest]]: the segments' per-file tiers
    * concatenated in order, the globals from `head`. A per-file tier
    * survives only when EVERY segment records it, and column-name
    * lists must be identical across segments (the segmented writer
    * guarantees both; a mismatch drops the tier — decline, never
    * half-state). Rename epochs name each file's physical columns, so
    * a chain that records them without per-file indexes is corrupt. */
  def assemble(segs: Seq[Manifest], what: => String): Manifest = {
    def all[T](f: Manifest => Option[Seq[T]]): Option[Seq[T]] = {
      val xs = segs.map(f)
      if (xs.forall(_.isDefined)) Some(xs.flatMap(_.get)) else None
    }
    def sameNames[T](f: Manifest => Seq[(String, Seq[T])])
        : Seq[(String, Seq[T])] =
      segs.map(f(_).map(_._1)).distinct match {
        case Seq(names) => names.indices.map(i =>
          names(i) -> segs.flatMap(f(_)(i)._2))
        case _ => Nil
      }
    val pcols = segs.map(_.pcols).distinct match {
      case Seq(c) if segs.forall(_.pvals.isDefined) => c
      case _ => Nil
    }
    val sepoch = all(_.sepoch)
    if (head.epochs.nonEmpty && sepoch.isEmpty)
      throw new IllegalStateException(s"corrupt segmented manifest " +
        s"$what: rename epochs recorded but a segment lost its sepoch " +
        s"array (${segments.mkString(",")})")
    head.copy(
      files = segs.flatMap(_.files),
      stats = sameNames(_.stats),
      nulls = sameNames(_.nulls),
      rows = all(_.rows),
      sizes = all(_.sizes),
      pcols = pcols,
      pvals = if (pcols.nonEmpty) all(_.pvals) else None,
      ptrans = segs.map(_.ptrans).distinct match {
        case Seq(t) if pcols.nonEmpty => t
        case _ => Nil
      },
      sepoch = if (head.epochs.nonEmpty) sepoch else None)
  }
}

/** The one codec for every JSON file under a snapshot table's `_log`:
  * manifests (`v<n>.json`), manifest lists and their segments
  * (`seg-*.json`), Bloom sidecars and `tags.json`. Output is compact
  * JSON (no whitespace) with the field order and encodings of every
  * manifest already on disk, so one decoder reads the whole history
  * with no format-version branch; a key a manifest lacks decodes to its
  * empty value. */
private[io] object LogCodec {

  // partition-tuple framing inside the base64 payload: values joined by
  // \u0001, NULL spelled \u0000 (values may not contain either)
  val PartSep = "\u0001"
  val PartNull = "\u0000"
  // the PARTITION-SPEC-EVOLUTION marker: a file written before the
  // current spec recorded no value for this column -- it survives every
  // partition prune (may-contain) until a rewrite re-derives its true
  // values, Iceberg's old-files-keep-their-spec semantics flattened
  // onto one tuple shape
  val PartUnknown = "\u0002"

  private def b64(s: String): String =
    Base64.getEncoder.encodeToString(s.getBytes(UTF_8))
  private def unb64(s: String): String =
    new String(Base64.getDecoder.decode(s), UTF_8)

  private def strs(xs: Seq[String]): JArray =
    JArray(xs.map(JString(_)).toList)
  private def longs(xs: Seq[Long]): JArray = JArray(xs.map(JLong(_)).toList)

  /** A full manifest. */
  def render(m: Manifest): String = {
    check(m)
    compact(head(m) ++ tiers(m) ++ txnState(m) ++ sepochField(m) ++
      schemaField(m))
  }

  /** A segment: the per-file tiers only, in the full manifest's order. */
  def renderSegment(m: Manifest): String = {
    check(m)
    compact(tiers(m) ++ sepochField(m))
  }

  /** A manifest list: the globals plus the segment names. */
  def render(l: ManifestList): String =
    compact(head(l.head) ++ List("segments" -> strs(l.segments)) ++
      txnState(l.head) ++ schemaField(l.head))

  private def compact(fields: List[JField]): String =
    JsonMethods.compact(JObject(fields))

  private def check(m: Manifest): Unit = {
    val n = m.files.length
    require(m.stats.map(_._1).distinct.length == m.stats.length,
      s"duplicate stats columns: ${m.stats.map(_._1).mkString(",")}")
    m.stats.foreach { case (_, mm) => require(mm.length == n,
      s"stats/files length mismatch: ${mm.length} != $n") }
    m.nulls.foreach { case (c, ns) => require(ns.length == n,
      s"nulls/files length mismatch for $c: ${ns.length} != $n") }
    m.pvals.foreach { vals =>
      require(vals.length == n,
        s"pvals/files length mismatch: ${vals.length} != $n")
      vals.foreach { tuple =>
        require(tuple.length == m.pcols.length,
          s"partition tuple arity ${tuple.length} != ${m.pcols.length}")
        tuple.foreach(_.foreach(s => require(
          !s.contains(PartNull) && !s.contains(PartSep) &&
            (s == PartUnknown || !s.contains(PartUnknown)),
          "partition values may not contain \\u0000/\\u0001/\\u0002")))
      }
    }
    if (m.ptrans.exists(_ != "id"))
      require(m.pvals.isDefined && m.pcols.length == m.ptrans.length,
        s"ptrans arity ${m.ptrans.length} != pcols arity " +
          s"${m.pcols.length}")
    // MERGE-ON-READ positional deletes: `dirty` ⊆ files, and sidecars
    // and dirty files are recorded together
    require(m.dirty.forall(m.files.contains),
      s"dirty files not in manifest: ${m.dirty.filterNot(m.files.contains)}")
    require(m.dels.isEmpty == m.dirty.isEmpty,
      "delete sidecars and dirty files must be recorded together")
    m.sepoch.foreach { se =>
      require(se.length == n,
        s"sepoch/files length mismatch: ${se.length} != $n")
      if (m.epochs.nonEmpty)
        require(se.forall(e => e >= 0 && e <= m.epochs.length),
          s"sepoch out of range [0, ${m.epochs.length}]")
    }
    m.epochs.foreach(_.foreach(c => require(!c.contains(PartSep),
      s"epoch column name '$c' may not contain \\u0001")))
  }

  private def head(m: Manifest): List[JField] =
    List("version" -> JLong(m.version), "action" -> JString(m.action)) ++
      m.ts.map("ts" -> JLong(_)) ++
      (if (m.dataChange) Nil else List("dataChange" -> JBool(false)))

  private def tiers(m: Manifest): List[JField] = {
    val stats = m.stats match {
      case Seq() => Nil
      case (c, mm) +: extra =>
        List("stats_col" -> JString(c), "mins" -> longs(mm.map(_._1)),
          "maxs" -> longs(mm.map(_._2))) ++
          (if (extra.isEmpty) Nil
           else ("xcols" -> strs(extra.map(_._1))) :: extra.zipWithIndex
             .flatMap { case ((_, xm), i) => List(
               s"xmins$i" -> longs(xm.map(_._1)),
               s"xmaxs$i" -> longs(xm.map(_._2))) }.toList)
    }
    val nulls =
      if (m.nulls.isEmpty) Nil
      else ("ncols" -> strs(m.nulls.map(_._1))) :: m.nulls.zipWithIndex
        .map { case ((_, ns), i) => s"nulls$i" -> longs(ns) }.toList
    // tuples stay base64-framed, epochs and the schema base64-encoded:
    // every manifest already on disk spells them that way
    val parts = m.pvals.toList.flatMap(vals => List(
      "pcols" -> strs(m.pcols),
      "pvals" -> strs(vals.map(t =>
        b64(t.map(_.getOrElse(PartNull)).mkString(PartSep))))))
    val ptrans =
      if (m.ptrans.exists(_ != "id")) List("ptrans" -> strs(m.ptrans))
      else Nil
    ("files" -> strs(m.files)) :: stats ++ nulls ++
      m.rows.map("rows" -> longs(_)) ++ m.sizes.map("sizes" -> longs(_)) ++
      parts ++ ptrans
  }

  private def txnState(m: Manifest): List[JField] =
    (if (m.dels.isEmpty) Nil
     else List("dels" -> strs(m.dels), "dirty" -> strs(m.dirty),
       "ndel" -> JLong(m.ndel))) ++
      (if (m.epochs.isEmpty) Nil
       else List("epochs" ->
         strs(m.epochs.map(e => b64(e.mkString(PartSep))))))

  private def sepochField(m: Manifest): List[JField] =
    m.sepoch.map(se => "sepoch" -> longs(se.map(_.toLong))).toList

  private def schemaField(m: Manifest): List[JField] =
    m.schema.map(st => "schema_b64" -> JString(b64(st.json))).toList

  /** The top-level fields of one `_log` JSON document. */
  private def fieldsOf(json: String, what: => String): Map[String, JValue] =
    JsonMethods.parse(json, useBigIntForLong = false) match {
      case JObject(fs) => fs.toMap
      case _ =>
        throw new IllegalStateException(s"corrupt $what: ${json.take(200)}")
    }

  private def strArr(v: JValue): Seq[String] = v match {
    case JArray(xs) => xs.iterator.map {
      case JString(s) => s
      case x => throw new IllegalStateException(s"expected a string: $x")
    }.toVector
    case x => throw new IllegalStateException(s"expected an array: $x")
  }

  private def num(v: JValue): Long = v match {
    case JLong(n) => n
    case JInt(n) => n.toLong
    case x => throw new IllegalStateException(s"expected a number: $x")
  }

  private def longArr(v: JValue): Seq[Long] = v match {
    case JArray(xs) => ArraySeq.unsafeWrapArray(xs.iterator.map(num).toArray)
    case x => throw new IllegalStateException(s"expected an array: $x")
  }

  /** Decode a manifest (Right) or a manifest list (Left); `what` names
    * the file in errors. Every per-file array decodes to an indexed
    * sequence — planning indexes them per file. */
  def decode(json: String, what: => String): Either[ManifestList, Manifest] = {
    val f = fieldsOf(json, what)
    def str(k: String) = f.get(k).collect { case JString(s) => s }
    def strsOf(k: String) = f.get(k).map(strArr)
    def longsOf(k: String) = f.get(k).map(longArr)
    def minMax(lo: String, hi: String): Seq[(Long, Long)] = {
      val mn = longsOf(lo).getOrElse(Nil)
      val mx = longsOf(hi).getOrElse(Nil)
      mn.indices.map(i => (mn(i), mx(i)))
    }
    val stats = str("stats_col").toSeq.map(_ -> minMax("mins", "maxs")) ++
      strsOf("xcols").getOrElse(Nil).zipWithIndex.map { case (c, i) =>
        c -> minMax(s"xmins$i", s"xmaxs$i") }
    val m = Manifest(
      version = f.get("version").map(num(_).toInt).getOrElse(0),
      action = str("action").getOrElse(""),
      ts = f.get("ts").map(num),
      dataChange = !f.get("dataChange").contains(JBool(false)),
      files = strsOf("files").getOrElse(Nil),
      stats = stats,
      nulls = strsOf("ncols").getOrElse(Nil).zipWithIndex.flatMap {
        case (c, i) => longsOf(s"nulls$i").map(c -> _) },
      rows = longsOf("rows"),
      sizes = longsOf("sizes"),
      pcols = strsOf("pcols").getOrElse(Nil),
      // -1: keep trailing empty values ("" is a legal value)
      pvals = strsOf("pvals").map(_.map(unb64(_).split(PartSep, -1).toSeq
        .map(v => if (v == PartNull) None else Some(v)))),
      ptrans = strsOf("ptrans").getOrElse(Nil),
      dels = strsOf("dels").getOrElse(Nil),
      dirty = strsOf("dirty").getOrElse(Nil),
      ndel = f.get("ndel").map(num).getOrElse(0L),
      epochs = strsOf("epochs").getOrElse(Nil)
        .map(unb64(_).split(PartSep, -1).toSeq),
      sepoch = longsOf("sepoch").map(_.map(_.toInt)),
      schema = str("schema_b64").map(b =>
        DataType.fromJson(unb64(b)).asInstanceOf[StructType]))
    strsOf("segments") match {
      case Some(segs) => Left(ManifestList(m, segs))
      case None if f.contains("files") => Right(m)
      case None => throw new IllegalStateException(
        s"corrupt $what: no file list (${json.take(200)})")
    }
  }

  /** A segment file: a manifest body that is not itself a list. */
  def decodeSegment(json: String, what: => String): Manifest =
    decode(json, what).getOrElse(throw new IllegalStateException(
      s"corrupt $what: a segment may not reference segments"))

  /** `tags.json`: tag name -> pinned version, sorted by name. */
  def renderTags(tags: Map[String, Int]): String =
    compact(tags.toSeq.sortBy(_._1)
      .map { case (n, v) => n -> (JLong(v): JValue) }.toList)

  def decodeTags(json: String): Map[String, Int] =
    fieldsOf(json, "tags file").map { case (n, v) => n -> num(v).toInt }

  /** A Bloom sidecar: the indexed column plus each manifest file's
    * base64 Bloom, file-aligned. */
  def renderBloom(col: String, files: Seq[String],
                  blooms: Seq[String]): String =
    compact(List("bloom_col" -> JString(col), "files" -> strs(files),
      "blooms" -> strs(blooms)))

  def decodeBloom(json: String): Seq[(String, String)] = {
    val f = fieldsOf(json, "bloom sidecar")
    strArr(f("files")).zip(strArr(f("blooms")))
  }
}
