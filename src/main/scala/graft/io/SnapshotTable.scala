package graft.io

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** Versioned snapshot table — the lakehouse commit-log core (the Delta /
  * Iceberg insight, re-expressed minimally): a table is a LOG OF
  * MANIFESTS, each listing exactly the data files visible at that
  * version. Readers never list directories — they read one manifest and
  * plan a scan over its files — and writers never mutate data files:
  *
  *  - `append` writes new parquet files and a manifest = previous files
  *    + new ones (a metadata-only O(new files) commit, however large
  *    the table);
  *  - `overwrite` writes new files and a manifest listing ONLY them —
  *    the old files stay on disk, which is what makes every historical
  *    version still readable (time travel);
  *  - `readSnapshot(asOf)` plans the scan from any retained manifest.
  *
  * Why this matters at 100 TB: directory listing of 10^6+ objects is
  * the scan-planning bottleneck on object stores, and eventually-
  * consistent listings make plain directory tables racy. A manifest is
  * one small file read; version visibility is atomic because the
  * manifest is hard-linked into place after its data files are fully
  * written (readers either see the complete version or the previous
  * one), and the link is a COMPARE-AND-SWAP: a second writer racing
  * the same version number fails loudly with
  * ConcurrentModificationException and must re-read the log and retry
  * on top of the winner — optimistic concurrency, the Delta commit
  * protocol (on an object store the same CAS is a conditional PUT).
  * The usual cadence is still single-writer (the daily job of the
  * reference pipeline, testpilot_data.py:86-87); the CAS turns the
  * rare violation from silent lost updates into a retryable error.
  * File paths are stored RELATIVE to the table root, so a table
  * survives relocation.
  */
object SnapshotTable {

  /** Manifest commit clock (epoch millis) — a [[scala.util.DynamicVariable]]
    * (thread-local scoping) so deterministic tests and the lifecycle
    * queries inject a fixed sequence via `clock.withValue(...)` WITHOUT
    * mutating global state: a concurrent commit to another table on a
    * different thread keeps wall-clock, and an exception inside the
    * scoped block restores automatically. The recorded timestamp is
    * METADATA for `TIMESTAMP AS OF` / retention resolution, never on a
    * query's data path. */
  private[graft] val clock =
    new scala.util.DynamicVariable[() => Long](() => System.currentTimeMillis())

  /** Whether the commit being written CHANGES the table's logical
    * content (Delta's per-action `dataChange` bit, hoisted to the
    * commit): compaction publishes an overwrite whose rows are
    * identical to the previous version, and the change feed must skip
    * it rather than refuse or re-emit 100 TB as inserts. Scoped like
    * [[clock]] — rewrite-only maintenance wraps its commit in
    * `dataChange.withValue(false)`. */
  private[io] val dataChange =
    new scala.util.DynamicVariable[Boolean](true)

  private[graft] def isUnknownPart(v: Option[String]): Boolean =
    v.contains(LogCodec.PartUnknown)
  private[graft] def unknownPart: Option[String] = Some(LogCodec.PartUnknown)

  private def logDir(dir: String) = new File(dir, "_log")
  private def manifestFile(dir: String, v: Int) =
    new File(logDir(dir), f"v$v%05d.json")

  /** Versions present in the log, ascending (empty for a fresh dir). */
  def versions(dir: String): Seq[Int] = {
    val files = Option(logDir(dir).listFiles()).getOrElse(Array.empty)
    files.map(_.getName).collect {
      case n if n.startsWith("v") && n.endsWith(".json") =>
        n.substring(1, n.length - 5).toInt
    }.toSeq.sorted
  }

  /** Publish version `v` as a full manifest over `files`. Per-file ROW
    * COUNTS and BYTE SIZES (count(*) and scan statistics from manifest
    * bytes, zero data IO / zero status calls per scan) reuse what
    * `carried` (the base version) recorded for re-referenced immutable
    * files; only genuinely new files pay a footer read / one status
    * call, once, at commit. A count or size that cannot be read leaves
    * that tier unrecorded (readers decline the metadata answer rather
    * than guess). The
    * multi-column min/max `stats`, null counts, partition tuples,
    * merge-on-read state and rename epochs are recorded as given — see
    * [[Manifest]]. `private[io]` so the spec can drive the CAS path
    * directly — the lost-race window (two writers computing the same
    * next version) is not reachable deterministically through
    * [[commit]]. */
  private[io] def writeManifest(dir: String, v: Int, action: String,
                            files: Seq[String],
                            stats: Seq[(String, Seq[(Long, Long)])] = Nil,
                            schema: Option[StructType] = None,
                            carried: Manifest = Manifest(),
                            parts: Option[(Seq[String],
                              Seq[Seq[Option[String]]])] = None,
                            nulls: Seq[(String, Seq[Long])] = Nil,
                            dels: Seq[String] = Nil,
                            dirty: Seq[String] = Nil,
                            ndel: Long = 0L,
                            epochs: Seq[Seq[String]] = Nil,
                            sepoch: Seq[Int] = Nil,
                            ptrans: Seq[String] = Nil)
      : Unit = {
    publishManifest(dir, v, action, probeTiers(dir, Manifest(files = files,
      stats = stats, nulls = nulls,
      pcols = parts.map(_._1).getOrElse(Nil), pvals = parts.map(_._2),
      ptrans = ptrans, dels = dels, dirty = dirty, ndel = ndel,
      epochs = epochs, sepoch = if (epochs.isEmpty) None else Some(sepoch),
      schema = schema), carried))
  }

  /** `m` with its unrecorded ROWS and SIZES tiers filled per file: what
    * `carried` recorded for the file first, then a footer read / status
    * call. A file that cannot answer leaves the tier unrecorded. */
  private def probeTiers(dir: String, m: Manifest,
                         carried: Manifest = Manifest()): Manifest = {
    def tier(rec: Option[Seq[Long]], known: Option[Seq[Long]],
             probe: String => Option[Long]) = rec.orElse {
      val byFile = known.fold(Map.empty[String, Long])(
        carried.files.zip(_).toMap)
      val xs = m.files.map(f => byFile.get(f).orElse(probe(f)))
      if (xs.forall(_.isDefined)) Some(xs.flatten) else None
    }
    m.copy(rows = tier(m.rows, carried.rows, footerRows(dir, _)),
      sizes = tier(m.sizes, carried.sizes, fileLen(dir, _)))
  }

  /** CAS-publish `m` as version `v`'s full manifest, [[stamp]]ed. */
  private def publishManifest(dir: String, v: Int, action: String,
                              m: Manifest): Unit =
    casPublish(dir, v, LogCodec.render(stamp(v, action, m)))

  /** `m` as version `v`: its action, the commit clock and the scoped
    * [[dataChange]] bit. */
  private def stamp(v: Int, action: String, m: Manifest): Manifest =
    m.copy(version = v, action = action, ts = Some(clock.value()),
      dataChange = dataChange.value)

  /** The commit point shared by full and SEGMENTED manifests. PER-WRITER
    * tmp name: two writers racing the same version must not share a
    * staging file — the winner's cleanup would delete the loser's tmp
    * out from under its link attempt, surfacing as a spurious
    * NoSuchFile instead of the loud CAS conflict. Hard-link = a true
    * COMPARE-AND-SWAP: link creation is atomic-exclusive (EEXIST if the
    * target exists), so a second writer racing the same version fails
    * LOUDLY here instead of silently clobbering the first writer's
    * commit — rename(2), which ATOMIC_MOVE maps to on Linux, replaces
    * an existing target and would lose the race winner's update without
    * a trace. Readers still see all of v or none of it. */
  private def casPublish(dir: String, v: Int, json: String): Unit = {
    val tmp = new File(logDir(dir),
      s".v$v.${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp.toPath, json.getBytes(UTF_8))
    try Files.createLink(manifestFile(dir, v).toPath, tmp.toPath)
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        Files.deleteIfExists(tmp.toPath)
        throw new java.util.ConcurrentModificationException(
          s"concurrent commit: version $v already published in $dir — " +
            "re-read the log and retry on top of it")
    }
    Files.deleteIfExists(tmp.toPath)
  }

  /** The SESSION's Hadoop configuration when a session is active (its
    * credentials and fs implementations are what make a non-default
    * filesystem reachable at all), a plain default otherwise (pure
    * metadata utilities callable without a session). */
  private def hadoopConf(): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession
      .map(_.sessionState.newHadoopConf())
      .getOrElse(new org.apache.hadoop.conf.Configuration())

  /** The parquet footer's record count for `rel` under `dir`; None when
    * the footer cannot be read (the manifest then simply omits row
    * counts — readers decline metadata answers rather than guess). */
  private def footerRows(dir: String, rel: String): Option[Long] =
    try {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/$rel"), hadoopConf()))
      try Some(r.getRecordCount) finally r.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  /** `rel`'s byte length through the Hadoop FS (the commit-time size
    * probe); None when it cannot be stat'd — the manifest then omits
    * sizes and planning falls back per file. */
  private def fileLen(dir: String, rel: String): Option[Long] =
    try {
      val p = new org.apache.hadoop.fs.Path(s"$dir/$rel")
      Some(p.getFileSystem(hadoopConf()).getFileStatus(p).getLen)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** One decoded version: the manifest file's (mtime, length) stamp,
    * the segment names a manifest list references (empty for a full
    * manifest) and the version assembled as one [[Manifest]]. */
  private final case class Loaded(mtime: Long, len: Long,
                                  segments: Seq[String], manifest: Manifest)

  /** Small (mtime, length)-validated LRU over DECODED manifests: one
    * PLANNING pass consults the same manifest many times (file list,
    * stats, partition values, null counts, row counts), and each of
    * those is a field access on the value decoded once here — at 10^6
    * files re-parsing a ~100 MB JSON per reader would dominate
    * planning. Manifests are immutable once CAS-published, so the
    * validation stamp only exists for vacuumed files (entry dies with
    * the file) and tests that rewrite a manifest in place (stamp
    * changes → reload). Bounded at 64 entries; thread-safe via the
    * map's own lock (the driver-side metadata path, never per-row). */
  private val manifestCache =
    new java.util.LinkedHashMap[String, Loaded](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Loaded]): Boolean = size() > 64
    }

  private def loaded(dir: String, v: Int): Loaded = {
    val f = manifestFile(dir, v)
    val key = f.getAbsolutePath
    val (mtime, len) = (f.lastModified(), f.length())
    def read(file: File) = new String(Files.readAllBytes(file.toPath), UTF_8)
    manifestCache.synchronized {
      manifestCache.get(key) match {
        case l: Loaded if l.mtime == mtime && l.len == len => l
        case _ =>
          val what = s"manifest v$v in $dir"
          // a SEGMENTED manifest (the O(delta)-per-commit append path)
          // assembles ONCE here; every reader downstream is
          // storage-agnostic, and the LRU caches the assembled version
          // (segments are immutable)
          val l = LogCodec.decode(read(f), what) match {
            case Right(m) => Loaded(mtime, len, Nil, m)
            case Left(list) => Loaded(mtime, len, list.segments,
              list.assemble(list.segments.map(n => LogCodec.decodeSegment(
                read(new File(logDir(dir), n)), s"segment $n of $what")),
                what))
          }
          manifestCache.put(key, l)
          l
      }
    }
  }

  /** Version `v` of the table at `dir`, decoded (and assembled from its
    * segments) once. */
  private[io] def manifest(dir: String, v: Int): Manifest =
    loaded(dir, v).manifest

  /** Per-file NULL COUNTS per stats column at `v`, aligned with
    * [[readManifest]]'s file order; empty for manifests that predate
    * the tier (readers then decline null-predicate pruning). */
  private[graft] def readNullCounts(dir: String, v: Int)
      : Map[String, Seq[Long]] = manifest(dir, v).nulls.toMap

  /** The MERGE-ON-READ delete-sidecar files in force at `v` (relative
    * paths; empty when the version carries none — every scan then
    * stays on the plain path). */
  private[graft] def readDeletes(dir: String, v: Int): Seq[String] =
    manifest(dir, v).dels

  /** The data files at `v` with at least one positional delete — the
    * only files whose scan pays the anti-join. */
  private[graft] def readDirty(dir: String, v: Int): Seq[String] =
    manifest(dir, v).dirty

  /** Live positionally-deleted row count at `v` (keeps manifest
    * count(*) answers exact on merge-on-read tables). */
  private[graft] def readNdel(dir: String, v: Int): Long =
    manifest(dir, v).ndel

  /** The segment files a manifest list references; empty for a full
    * manifest (and for a version vacuum already removed) — vacuum's
    * segment-liveness sweep depends on it. */
  private[io] def readSegments(dir: String, v: Int): Seq[String] =
    if (!manifestFile(dir, v).exists()) Seq.empty
    else loaded(dir, v).segments

  private[io] def readManifest(dir: String, v: Int): Seq[String] =
    manifest(dir, v).files

  /** The table schema recorded at `v`; None on a pre-schema manifest. */
  def readSchema(dir: String, v: Int): Option[StructType] =
    manifest(dir, v).schema

  /** The CLOSED rename-epoch name lists recorded at `v` (empty when no
    * column was ever renamed — the overwhelmingly common case pays
    * nothing). Epoch index `e` gives the full column-name list (by
    * schema position = field id) that files of epoch `e` were written
    * under; `epochs.length` is the OPEN epoch (current schema names). */
  private[graft] def readEpochs(dir: String, v: Int): Seq[Seq[String]] =
    manifest(dir, v).epochs

  /** Per-file schema-epoch indexes, aligned with [[readManifest]]'s
    * file list. Present exactly when [[readEpochs]] is non-empty —
    * epochs are correctness-bearing (they name the physical columns),
    * so a manifest with epochs but no per-file indexes is corrupt and
    * refuses loudly rather than mis-reading history. */
  private[graft] def readSepoch(dir: String, v: Int): Seq[Int] = {
    val m = manifest(dir, v)
    m.sepoch.getOrElse {
      if (m.epochs.isEmpty) Nil
      else throw new IllegalStateException(
        s"corrupt manifest v$v in $dir: rename epochs recorded " +
          "without per-file sepoch indexes")
    }
  }

  /** The physical column names files of epoch `e` were written under,
    * resolved BY POSITION against the current schema `cur`: positions
    * the epoch covers take its recorded name, positions past its end
    * are columns ADDED after the epoch closed — such files cannot
    * contain them under any name, so the current name null-fills. */
  private[graft] def epochNames(cur: StructType, epochs: Seq[Seq[String]],
                                e: Int): Seq[String] =
    if (e >= epochs.length) cur.fieldNames.toSeq
    else cur.fieldNames.toSeq.zipWithIndex.map { case (n, i) =>
      if (i < epochs(e).length) epochs(e)(i) else n
    }

  /** Epoch state to write for a commit onto `prevV` whose final file
    * list is `finalFiles`: carried files keep their recorded epoch,
    * files the commit wrote get the OPEN epoch. (Nil, Nil) when the
    * table never renamed — manifests stay byte-identical to today. */
  private def carryEpochs(dir: String, prevV: Int,
                          finalFiles: Seq[String])
      : (Seq[Seq[String]], Seq[Int]) = {
    val eps = readEpochs(dir, prevV)
    if (eps.isEmpty) (Nil, Nil)
    else {
      val m = readManifest(dir, prevV).zip(readSepoch(dir, prevV)).toMap
      (eps, finalFiles.map(f => m.getOrElse(f, eps.length)))
    }
  }

  /** The commit wall-clock (epoch millis) recorded at `v`; None on a
    * manifest that predates timestamped commits. */
  def commitTimestamp(dir: String, v: Int): Option[Long] =
    manifest(dir, v).ts

  /** `TIMESTAMP AS OF` resolution: the LATEST version whose recorded
    * commit timestamp is <= `tsMillis` (the Delta/Iceberg contract — a
    * reader at time t sees what a query at time t saw). Versions
    * predating timestamped manifests are not timestamp-addressable; a
    * timestamp before the first timestamped commit refuses LOUDLY
    * (silently serving the latest — or the earliest — table would be a
    * wrong-answer generator). */
  def resolveTimestamp(dir: String, tsMillis: Long): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val stamped = vs.flatMap(v => commitTimestamp(dir, v).map(v -> _))
    require(stamped.nonEmpty,
      s"TIMESTAMP AS OF: no version in $dir records a commit " +
        "timestamp (log predates timestamped manifests) — use VERSION AS OF")
    val hit = stamped.filter(_._2 <= tsMillis)
    require(hit.nonEmpty,
      s"TIMESTAMP AS OF $tsMillis: before the table's first " +
        s"timestamped commit (${stamped.head._2} at v${stamped.head._1})")
    hit.last._1
  }

  /** Streaming `startingTimestamp` resolution: the EARLIEST version
    * whose commit timestamp is >= `tsMillis` (Delta's identically-named
    * option — feed everything committed at or after t). Refuses loudly
    * when every retained commit predates t (silently tailing instead
    * would skip exactly the rows the caller asked to replay) and on
    * logs that predate timestamped manifests. */
  def resolveStartingTimestamp(dir: String, tsMillis: Long): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val stamped = vs.flatMap(v => commitTimestamp(dir, v).map(v -> _))
    require(stamped.nonEmpty,
      s"startingTimestamp: no version in $dir records a commit " +
        "timestamp (log predates timestamped manifests) — use " +
        "startingVersion")
    val hit = stamped.find(_._2 >= tsMillis)
    require(hit.nonEmpty,
      s"startingTimestamp $tsMillis: after the latest commit " +
        s"(${stamped.last._2} at v${stamped.last._1}) — nothing to " +
        "replay; omit the option to tail new commits")
    hit.get._1
  }

  // ---- planning surface for EXTERNAL readers (the DSv2 source) ----
  // The log stays the single source of truth: a connector plans from
  // these and never lists directories or samples footers.

  /** Resolve `asOf` (default: latest) against the log, failing loudly
    * on a missing log or unknown version. */
  def resolveVersion(dir: String, asOf: Option[Int] = None): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val v = asOf.getOrElse(vs.last)
    // below the retention horizon = the version EXISTED and was
    // vacuumed: name the cause, not just "not in log" (the documented
    // post-vacuum time-travel refusal)
    require(v >= vs.head || v < 1,
      s"version $v is below the retention horizon of $dir (oldest " +
        s"retained: v${vs.head}) — it was removed by vacuum; " +
        "time travel reaches only retained versions")
    require(vs.contains(v), s"version $v not in log (have $vs)")
    v
  }

  /** The stats column recorded at `v`, if the version carries min/max
    * file stats (the q154 skipping tier). Multi-stats manifests answer
    * their FIRST (range-cluster) column here. */
  def statsColumn(dir: String, v: Int): Option[String] =
    manifest(dir, v).stats.headOption.map(_._1)

  /** EVERY stats column recorded at `v`, primary first. */
  def statsColumns(dir: String, v: Int): Seq[String] =
    manifest(dir, v).stats.map(_._1)

  /** Per-file (min, max) of EVERY recorded stats column at `v`, primary
    * first, each aligned with [[readManifest]]'s file order. */
  private[graft] def readAllStats(dir: String, v: Int)
      : Seq[(String, Seq[(Long, Long)])] =
    manifest(dir, v).stats.filter(_._2.nonEmpty)

  /** The version's manifest file list (table-root-relative paths),
    * stats-pruned to files that MAY intersect `[lo, hi]` on the
    * recorded stats column when `bounds` is given. Pruning is a
    * may-contain decision — callers still apply the row-level
    * predicate. */
  def manifestFiles(dir: String, v: Int,
                    bounds: Option[(Long, Long)] = None): Seq[String] = {
    val files = readManifest(dir, v)
    bounds.flatMap(b => readStats(dir, v).map(s => (b, s))) match {
      case Some(((lo, hi), mm)) => files.zip(mm).collect {
        case (f, (mn, mx)) if mx >= lo && mn <= hi => f
      }
      case None => files
    }
  }

  /** The hive-style partition columns recorded at `v` (empty for an
    * unpartitioned version). */
  def partitionColumns(dir: String, v: Int): Seq[String] =
    manifest(dir, v).pcols

  /** HIDDEN-PARTITIONING transform specs at `v`, parallel to
    * [[partitionColumns]] — `"id"`-filled when the manifest predates
    * transforms or partitions by identity (the common case). */
  def readPartTransforms(dir: String, v: Int): Seq[String] =
    manifest(dir, v).transforms

  /** The parsed [[PartTransform]]s at `v` (source names from pcols). */
  private[graft] def partTransformsOf(dir: String, v: Int)
      : Seq[PartTransform] =
    partitionColumns(dir, v).zip(readPartTransforms(dir, v)).map {
      case (c, spec) => PartTransform.parse(c, spec)
    }

  /** Per-file partition-value tuples at `v`, aligned with
    * [[readManifest]]'s file order (None = the version is not
    * partitioned). Each tuple is aligned with [[partitionColumns]];
    * None inside a tuple = NULL partition value. */
  def readPartValues(dir: String, v: Int)
      : Option[Seq[Seq[Option[String]]]] =
    manifest(dir, v).pvals

  /** [[manifestFiles]] pruned on EVERY filtered stats column at once:
    * a file survives only if, for each (col → [lo, hi]) bound with
    * recorded stats, its [min, max] intersects — predicates on
    * different columns compound multiplicatively (the reason Iceberg
    * records a stats map, not one column). Bounds on a column the
    * version does not track are ignored (may-contain stays sound). */
  def manifestFilesPruned(dir: String, v: Int,
                          bounds: Map[String, (Long, Long)],
                          partKeep: Map[String, Set[Option[String]]] =
                            Map.empty,
                          nullKeep: Map[String, Boolean] =
                            Map.empty,
                          partRange: Map[String,
                            (Option[String], Option[String])] =
                            Map.empty): Seq[String] = {
    val m = manifest(dir, v)
    val files = m.files
    if (bounds.isEmpty && partKeep.isEmpty && nullKeep.isEmpty &&
        partRange.isEmpty)
      return files
    val tracked = m.stats.toMap
    val active = bounds.toSeq.flatMap { case (c, b) =>
      tracked.get(c).map(mm => (b, mm))
    }
    // null-predicate prune: IS NULL keeps files with nullCount > 0,
    // IS NOT NULL keeps files with nullCount < rows (all-null files
    // drop); a column without recorded counts — or IS NOT NULL without
    // per-file rows — declines (may-contain stays sound)
    val ncounts = m.nulls.toMap
    val rowsRec = m.rows
    val activeNulls: Seq[(Seq[Long], Boolean)] =
      nullKeep.toSeq.flatMap { case (c, wantNull) =>
        ncounts.get(c).map(ns => (ns, wantNull))
      }
    // partition-value equality prune: a file survives only if its
    // recorded tuple value is IN the kept set for every constrained
    // partition column (constraints on non-partition columns are
    // ignored — may-contain stays sound). Files are value-pure, so
    // this prune is EXACT, not just may-contain.
    val pcols = m.pcols
    val pvals = m.pvals
    val activeParts: Seq[(Int, Set[Option[String]])] =
      if (pvals.isEmpty) Nil
      else partKeep.toSeq.flatMap { case (c, keep) =>
        val i = pcols.indexOf(c)
        if (i < 0) None else Some((i, keep))
      }
    // TRANSFORM-space RANGE prune (monotone hidden-partitioning
    // transforms — truncate/calendar): a file survives when its
    // recorded cell value falls inside [lo, hi] under the transform's
    // own ordering; NULL cells drop (a source comparison is never true
    // on NULL rows), UNKNOWN markers survive (may-contain)
    val ptrans = m.transforms
    val activeRanges: Seq[(Int, Option[String], Option[String],
        Ordering[String])] =
      if (pvals.isEmpty) Nil
      else partRange.toSeq.flatMap { case (c, (lo, hi)) =>
        val i = pcols.indexOf(c)
        if (i < 0) None
        else Some((i, lo, hi,
          PartTransform.parse(c, ptrans(i)).valueOrd))
      }
    files.zipWithIndex.collect {
      case (f, i) if active.forall { case ((lo, hi), mm) =>
        val (mn, mx) = mm(i); mx >= lo && mn <= hi
      } && activeParts.forall { case (pi, keep) =>
        // an UNKNOWN value (pre-evolution file) cannot be pruned: the
        // file may hold any value of this column (may-contain stays
        // sound; callers keep answers exact with a residual row filter)
        keep.contains(pvals.get(i)(pi)) || isUnknownPart(pvals.get(i)(pi))
      } && activeRanges.forall { case (pi, lo, hi, ord) =>
        val cell = pvals.get(i)(pi)
        isUnknownPart(cell) || cell.exists(s =>
          lo.forall(l => ord.gteq(s, l)) && hi.forall(h => ord.lteq(s, h)))
      } && activeNulls.forall { case (ns, wantNull) =>
        if (wantNull) ns(i) > 0L
        else rowsRec.forall(rs => ns(i) < rs(i))
      } => f
    }
  }

  /** Per-file (min, max) of the stats column, aligned with
    * [[readManifest]]'s file order; None when the version carries no
    * stats. */
  private def readStats(dir: String, v: Int): Option[Seq[(Long, Long)]] =
    manifest(dir, v).stats.headOption.map(_._2).filter(_.nonEmpty)

  /** Per-file row counts recorded at `v`, aligned with
    * [[readManifest]]'s file order; None on a manifest that predates
    * row-count recording. Readers use these for METADATA-ONLY answers
    * (count(*) via the DSv2 aggregate pushdown) — a missing record
    * declines the shortcut, never estimates. */
  def readRows(dir: String, v: Int): Option[Seq[Long]] = manifest(dir, v).rows

  /** Per-file byte sizes recorded at `v`, aligned with
    * [[readManifest]]'s file order; None on a manifest that predates
    * size recording. Scan planning serves statistics and byte-range
    * splits from these — zero per-file status calls on a size-bearing
    * table. */
  def readSizes(dir: String, v: Int): Option[Seq[Long]] =
    manifest(dir, v).sizes

  /** Manifest-only `count(*)` at `v` — the sum of recorded per-file row
    * counts; None when any file predates row-count recording (decline,
    * never estimate). At 100 TB this answers a table count from a few
    * hundred manifest bytes instead of a full scan. */
  def manifestCount(dir: String, v: Int): Option[Long] =
    // merge-on-read: recorded per-file counts are PHYSICAL rows; the
    // manifest's live tombstone count keeps the metadata answer exact
    readRows(dir, v).map(_.sum - readNdel(dir, v))

  /** Manifest-only global (min, max) of the PRIMARY stats column at
    * `v`. Files with zero recorded rows are excluded (their stats slots
    * are meaningless); requires row counts AND stats to be recorded and
    * aligned, and at least one non-empty file — otherwise None. */
  def manifestMinMax(dir: String, v: Int): Option[(String, Long, Long)] =
    statsColumn(dir, v).flatMap(c =>
      manifestMinMaxAll(dir, v).get(c).map { case (lo, hi) => (c, lo, hi) })

  /** Manifest-only global (min, max) per recorded stats column at `v`
    * (the aggregate-pushdown source) — empty when row counts are
    * unrecorded or every file is empty; zero-row files' slots are
    * excluded per column. */
  def manifestMinMaxAll(dir: String, v: Int): Map[String, (Long, Long)] =
    // merge-on-read: a positionally-deleted row may hold the recorded
    // extremum — decline the metadata answer while tombstones exist
    // (compaction restores it); pruning stays sound (may-contain)
    if (readDirty(dir, v).nonEmpty) Map.empty
    else readRows(dir, v).fold(Map.empty[String, (Long, Long)]) { rs =>
      readAllStats(dir, v).flatMap { case (c, mm) =>
        if (rs.length != mm.length) None
        else {
          val nz = mm.zip(rs).collect { case (p, n) if n > 0 => p }
          if (nz.isEmpty) None
          else Some(c -> (nz.map(_._1).min, nz.map(_._2).max))
        }
      }.toMap
    }

  /** Commit `df` as the next version. `overwrite = false` appends to the
    * previous version's file set; `true` replaces it. Returns the new
    * version number. The data write lands under `data/v<n>/` (never
    * touched again); the manifest rename is the atomic visibility
    * point. */
  def commit(spark: SparkSession, df: DataFrame, dir: String,
             overwrite: Boolean = false): Int =
    commitWithStats(spark, df, dir, overwrite, statsCol = None)

  /** [[commit]] plus FILE-LEVEL DATA SKIPPING metadata: when `statsCol`
    * names a long-typed column, the manifest records each file's
    * (min, max) of it, and [[readSnapshotPruned]] plans range scans over
    * only the overlapping files — the Iceberg manifest-stats insight:
    * pruning happens on a few hundred bytes of metadata BEFORE any file
    * is opened (parquet footer min/max pruning still needs a footer read
    * per file; at 10^6 files the manifest is the only sub-second path).
    * Stats compound with layout: write range-partitioned on the stats
    * column (or Z-ordered, [[ZOrder]]) so per-file ranges are tight.
    * On append, carried-forward files keep their recorded stats — a
    * stats-bearing table requires every prior version to carry stats
    * (enforced; half-stated metadata would silently disable pruning). */
  /** `input_file_name()` returns a URL-ENCODED URI (Spark encodes the
    * path when it builds the file index), while manifests, staging
    * listings, and on-disk names carry the raw (hive-escaped) form —
    * decode before any comparison against manifest entries, or any
    * path with a space/%/'='-bearing partition value breaks the match.
    * Falls back to the raw string when it is not a parseable URI (then
    * it was never encoded to begin with). */
  private def decodeScanPath(abs: String): String =
    try {
      val p = new java.net.URI(abs).getPath
      if (p == null) abs else p
    } catch { case _: java.net.URISyntaxException => abs }

  /** One bounded metadata job over the files under `$dir/$sub`:
    * per-file (min, max) of every stats column AND the per-file
    * partition-value tuple (files are value-pure by construction, so
    * min(cast(c as string)) IS the file's value; an all-NULL partition
    * file answers None), keyed by bare file name. A single pass
    * however many columns the table tracks. */
  private def fileMeta(spark: SparkSession, dir: String, sub: String,
                       statsCols: Seq[String], parts: Seq[PartTransform])
      : Map[String, (Seq[(Long, Long)], Seq[Option[String]], Seq[Long])] = {
    import org.apache.spark.sql.functions._
    val partCols = parts.map(_.src)
    // NULL COUNTS ride the same single pass: count(*) - count(c) per
    // stats column — the IS NULL / IS NOT NULL pruning tier costs no
    // extra job at commit. Partition values derive through each
    // column's TRANSFORM (identity = plain cast) — files are
    // value-pure in transform space by construction, so min() IS the
    // file's value.
    val aggs = statsCols.flatMap(c => Seq(
      min(col(c)).cast("long").as(s"mn_$c"),
      max(col(c)).cast("long").as(s"mx_$c"))) ++
      parts.zipWithIndex.map { case (t, i) =>
        min(t.expr(col(t.src))).as(s"pv_$i") } ++
      (count(lit(1)).as("cnt") +:
        statsCols.map(c => count(col(c)).as(s"nn_$c")))
    spark.read.parquet(s"$dir/$sub")
      .groupBy(input_file_name().as("f"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
      .map { r =>
        // key by the FULL sub-relative path, not the bare name: a
        // partitioned write reuses identical part-file names across
        // partition directories (same task id + job uuid), so bare
        // names collide. DECODE first — input_file_name() returns a
        // URL-encoded URI while the manifest records on-disk
        // (hive-escaped) names; a partition value with a space/%/=
        // would otherwise miss the lookup and silently corrupt
        // stats/tuples downstream
        val abs = decodeScanPath(r.getString(0))
        val idx = abs.indexOf(s"/$sub/")
        require(idx >= 0, s"file $abs not under staging dir $sub")
        val rel = abs.substring(idx + 1)
        val stats = statsCols.indices.map { i =>
          // an ALL-NULL file has no min/max: the always-prune sentinel
          // is exactly right — no range predicate can match it (its
          // rows surface through IS NULL, which the null counts serve)
          if (r.isNullAt(1 + 2 * i)) (Long.MaxValue, Long.MinValue)
          else (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i))
        }.toSeq
        val base = 1 + 2 * statsCols.length
        val parts = partCols.indices.map(j =>
          Option(r.getString(base + j))).toSeq
        // a DATA value equal to the reserved  spec-evolution
        // marker must never be recorded as a tuple value: it would be
        // indistinguishable from a genuine UNKNOWN — permanently
        // unprunable, spuriously refused by metadata DML, rendered
        // __UNKNOWN__. Only the carry remap (which never passes
        // through fileMeta) may inject the marker.
        parts.zipWithIndex.foreach { case (p, j) =>
          require(!isUnknownPart(p),
            s"partition column '${partCols(j)}' of file $rel holds a " +
              "value equal to the reserved spec-evolution marker " +
              "(\\u0002) — this in-band value cannot be committed")
        }
        val cntAt = base + partCols.length
        val cnt = r.getLong(cntAt)
        val nulls = statsCols.indices.map(i =>
          cnt - r.getLong(cntAt + 1 + i)).toSeq
        rel -> ((stats, parts, nulls))
      }.toMap
  }

  /** The table schema the commit of `df` onto `prev` produces — SCHEMA
    * EVOLUTION, add-column only (the safe subset): on append, every
    * column shared with the recorded base schema must keep its type
    * (loud failure on a change — silent coercion corrupts downstream
    * readers), columns the append omits stay (its files null-fill
    * them), and genuinely new columns are appended to the table schema
    * (every OLDER file null-fills those at read time — zero data
    * rewritten, the whole point at 100 TB). All fields are recorded
    * nullable because evolution makes any column absent from some
    * file's footprint. Overwrite resets the schema to `df`'s; each
    * version keeps ITS schema, so time travel reads history with the
    * schema it had then. None only on append onto a pre-schema legacy
    * base (stay legacy rather than guess what its files hold). */
  private def evolvedSchema(dir: String, prev: Seq[Int], df: DataFrame,
                            overwrite: Boolean): Option[StructType] =
    evolvedSchemaFrom(dir, prev, df.schema, overwrite)

  /** [[evolvedSchema]] from a declared schema (the DSv2 write path has
    * a logical write schema, not a DataFrame). */
  private[io] def evolvedSchemaFrom(dir: String, prev: Seq[Int],
                                    incoming: StructType,
                                    overwrite: Boolean): Option[StructType] = {
    def nullable(st: StructType) = StructType(st.fields.map(_.copy(nullable = true)))
    if (overwrite || prev.isEmpty) Some(nullable(incoming))
    else readSchema(dir, prev.last).map { base =>
      val inc = incoming.fields.map(f => f.name -> f).toMap
      base.fields.foreach { bf =>
        inc.get(bf.name).foreach { nf =>
          require(nf.dataType.simpleString == bf.dataType.simpleString,
            s"schema evolution may only ADD columns: '${bf.name}' would " +
              s"change ${bf.dataType.simpleString} -> ${nf.dataType.simpleString}")
        }
      }
      val known = base.fieldNames.toSet
      nullable(StructType(base.fields ++
        incoming.fields.filterNot(f => known(f.name))))
    }
  }

  /** Publish a commit whose data files were staged EXTERNALLY — the
    * seam the DSv2 writer ([[graft.sources.SnapshotSource]]) commits
    * through: executors have already written `relFiles` under `dir`
    * (any staging sub-directory; manifests store relative paths, so
    * placement is free), optional per-file (min, max) stats for
    * `stats._1` ride along FROM THE WRITERS (no post-hoc stats job —
    * the writer folds min/max while streaming rows), the schema evolves
    * from the declared write schema under the add-column-only rule, and
    * the manifest CAS-publishes exactly like [[commit]]. Same contracts:
    * append onto a stats-bearing version requires stats (else the
    * version publishes stats-free and pruning disables for it — never
    * half-stated), overwrite resets files, stats and schema. */
  def commitStagedFiles(dir: String, relFiles: Seq[String],
                        writeSchema: StructType,
                        overwrite: Boolean = false,
                        stats: Seq[(String, Seq[(Long, Long)])] = Nil,
                        txn: Option[(String, Long)] = None,
                        parts: Option[(Seq[String],
                          Seq[Seq[Option[String]]])] = None,
                        nulls: Seq[(String, Seq[Long])] = Nil): Int = {
    require(relFiles.nonEmpty, "external commit with no staged files")
    logDir(dir).mkdirs()
    var attempt = 0
    while (true) {
      // a concurrent DUPLICATE of the same streaming epoch may have won
      // the race since the writer's pre-check: re-check inside the
      // retry and drop our staged files — exactly-once, never a
      // double-append
      txn.foreach { case (qid, e) =>
        if (attempt > 0 && committedEpochs(dir, qid).contains(e)) {
          relFiles.foreach(f =>
            Files.deleteIfExists(Paths.get(dir, f)): Unit)
          return versions(dir).last
        }
      }
      try {
        return commitStagedOnce(dir, relFiles, writeSchema, overwrite,
          stats, txn, parts, nulls)
      } catch {
        // optimistic append retry, same contract as [[publishStaged]]
        case e: java.util.ConcurrentModificationException
            if !overwrite && attempt < 8 && e.getMessage != null &&
              e.getMessage.contains("concurrent commit") =>
          attempt += 1
          Thread.sleep(5L * attempt)
      }
    }
    -1 // unreachable
  }

  /** The version a commit onto `prev` builds on — empty for a fresh
    * table or an overwrite. */
  private def baseManifest(dir: String, prev: Seq[Int],
                           overwrite: Boolean): Manifest =
    if (overwrite || prev.isEmpty) Manifest() else manifest(dir, prev.last)

  private def commitStagedOnce(dir: String, relFiles: Seq[String],
                               writeSchema: StructType,
                               overwrite: Boolean,
                               stats: Seq[(String, Seq[(Long, Long)])],
                               txn: Option[(String, Long)],
                               parts: Option[(Seq[String],
                                 Seq[Seq[Option[String]]])],
                               nulls: Seq[(String, Seq[Long])]): Int = {
    val prev = versions(dir)
    val v = prev.lastOption.getOrElse(0) + 1
    val pm = baseManifest(dir, prev, overwrite)
    val base = pm.files
    val prevOrder = pm.stats.map(_._1).zipWithIndex.toMap
    // partitioned-table append protocol for externally staged writers
    // (DSv2 INSERT, streaming sink): the writer must declare the SAME
    // partition columns and per-file value tuples (its tasks route
    // rows into value-pure files) — a stats-free/values-free append
    // onto a partitioned table would half-state the manifest and is
    // refused toward the partition-aware paths
    if (base.nonEmpty) {
      val prevP = pm.pcols
      require(prevP == parts.map(_._1).getOrElse(Nil),
        s"append partitioned by " +
          s"[${parts.map(_._1).getOrElse(Nil).mkString(",")}] onto " +
          s"version ${prev.last} partitioned by " +
          s"[${prevP.mkString(",")}] — external writers must declare " +
          "the table's partitioning (the DSv2 partitionBy option / " +
          "partition-aware writers); only an overwrite repartitions")
    }
    val fullParts: Option[(Seq[String], Seq[Seq[Option[String]]])] =
      parts.map { case (cols, vals) =>
        require(vals.length == relFiles.length,
          s"pvals/files length mismatch: ${vals.length} != ${relFiles.length}")
        val carried: Seq[Seq[Option[String]]] =
          if (base.isEmpty) Seq.empty
          else pm.pvals.getOrElse(
            throw new IllegalStateException(
              s"version ${prev.last} declares partition columns but " +
                "records no values"))
        (cols, carried ++ vals)
      }
    // appends onto a stats-bearing version must cover EVERY column the
    // base tracks (a column silently dropped would half-state the
    // manifest and disable its pruning without a trace)
    if (base.nonEmpty && stats.nonEmpty) {
      val prevCols = prevOrder.keySet
      val newCols = stats.map(_._1).toSet
      require(prevCols.subsetOf(newCols),
        s"append tracks stats for ${newCols.mkString(",")} but version " +
          s"${prev.last} tracks ${prevCols.mkString(",")} — cover every " +
          "base column or commit stats-free")
    }
    val prevAll = pm.stats.toMap
    val fullStats = stats.map { case (c, mm) =>
      require(mm.length == relFiles.length,
        s"stats/files length mismatch: ${mm.length} != ${relFiles.length}")
      val carried =
        if (base.isEmpty) Seq.empty
        else prevAll.getOrElse(c, throw new IllegalStateException(
          s"append with statsCol=$c onto version ${prev.last} which has no " +
            "stats for it"))
      (c, carried ++ mm)
    }
    // keep the base's column order on append (the primary — compact's
    // range-cluster column — must not flip with a writer's option order)
    val orderedStats =
      fullStats.sortBy { case (c, _) => prevOrder.getOrElse(c, Int.MaxValue) }
    txn.foreach { case (qid, _) =>
      require(qid.matches("[A-Za-z0-9_-]+"),
        s"txn query id '$qid' would corrupt the manifest action field") }
    val action = (if (overwrite) "overwrite" else "append") +
      txn.fold("") { case (qid, e) => s"@txn$qid:epoch$e" }
    // O(delta) segmented append for externally staged writers too —
    // the STREAMING sink's per-epoch commits are the heaviest
    // full-manifest-rewrite offenders (one commit per epoch, forever)
    if (base.nonEmpty && !overwrite && {
      val newStats = stats.sortBy { case (c, _) =>
        prevOrder.getOrElse(c, Int.MaxValue) }
      val prevNullsCols = pm.nulls.map(_._1).toSet
      trySegmentedAppend(dir, prev, v, action, relFiles, newStats,
        nulls.filter(n => prevNullsCols.contains(n._1)), parts,
        evolvedSchemaFrom(dir, prev, writeSchema, overwrite))
    }) return v
    // null counts: carried by column like stats; a column the base
    // never recorded declines rather than half-state
    val prevNulls = pm.nulls.toMap
    val fullNulls: Seq[(String, Seq[Long])] = nulls.flatMap {
      case (c, ns) =>
        val carriedNs: Option[Seq[Long]] =
          if (base.isEmpty) Some(Seq.empty) else prevNulls.get(c)
        carriedNs.map(cs => (c, cs ++ ns))
    }
    if (base.nonEmpty)
      require(pm.transforms.forall(_ == "id"),
        "staged/DSv2 writes onto a hidden-partition-transform table " +
          "are not supported — append through " +
          "commitPartitionedTransforms (the writer must derive " +
          "transform-space tuples)")
    val (eps, sep) =
      if (base.isEmpty) (Nil, Nil)
      else carryEpochs(dir, prev.last, base ++ relFiles)
    writeManifest(dir, v, action, base ++ relFiles, orderedStats,
      evolvedSchemaFrom(dir, prev, writeSchema, overwrite),
      carried = pm, parts = fullParts, nulls = fullNulls, epochs = eps,
      sepoch = sep)
    v
  }

  // the action string's own txn grammar: '<kind>@txn<queryId>:epoch<e>'
  private val TxnRe = """[a-z]+@txn([A-Za-z0-9_-]+):epoch(-?\d+)""".r
  // manifests written before the (queryId, epoch) ledger keyed actions
  // as 'append@epoch<e>' with no query id; they parse to a sentinel id
  // so a pre-upgrade table's epochs still dedup a replayed micro-batch
  // instead of double-appending (the ledger must never read as empty
  // just because the log predates the format)
  private[io] val LegacyTxnQueryId = "<legacy>"
  private val LegacyTxnRe = """[a-z]+@epoch(-?\d+)""".r

  /** The commit kind recorded at `v` — "append" or "overwrite" (epoch
    * suffixes stripped). The streaming SOURCE branches on this: append
    * versions feed incrementally, anything else fails loudly. */
  def readAction(dir: String, v: Int): String =
    manifest(dir, v).action.takeWhile(c => c >= 'a' && c <= 'z') match {
      case "" => throw new IllegalStateException(
        s"corrupt manifest v$v in $dir: no action recorded")
      case a => a
    }

  /** Whether version `v` changed the table's logical content — false
    * only for rewrite-only maintenance commits (compaction) that
    * recorded `dataChange:false`; absent (legacy/normal manifests)
    * means true. */
  def isDataChange(dir: String, v: Int): Boolean =
    manifest(dir, v).dataChange

  /** Stream epochs already committed to the log BY `queryId` — the
    * exactly-once check for the streaming writer: a replayed
    * micro-batch (sink retry after a commit that DID land) finds its
    * (query, epoch) pair here and skips, instead of double-appending
    * its rows. Keyed by the pair, not the epoch alone: a different
    * streaming query (fresh checkpoint) writing to the same table
    * restarts at epoch 0 and must not collide with this one's epoch 0
    * — Delta's txnAppId+version idempotence. O(versions) metadata
    * reads, never data. */
  def committedEpochs(dir: String, queryId: String): Set[Long] =
    committedTxns(dir).collect {
      // legacy epoch-only entries carried no query id: they can only
      // have been written by the query that owned the table then, so
      // they count for ANY asking query (erring toward skip — the
      // alternative, ignoring them, double-appends a replayed epoch)
      case (q, e) if q == queryId || q == LegacyTxnQueryId => e
    }

  /** Every (queryId, epoch) pair recorded in the log — the full txn
    * ledger [[committedEpochs]] filters. Legacy 'append@epoch<e>'
    * actions surface under [[LegacyTxnQueryId]]. */
  def committedTxns(dir: String): Set[(String, Long)] =
    versions(dir).flatMap { v =>
      manifest(dir, v).action match {
        case TxnRe(qid, e) => Some((qid, e.toLong))
        case LegacyTxnRe(e) => Some((LegacyTxnQueryId, e.toLong))
        case _ => None
      }
    }.toSet

  /** Schema-aware reader: a version that recorded its schema is planned
    * FROM THE LOG (no footer sampling; per-file missing columns
    * null-fill), a legacy version falls back to footer inference. */
  private[io] def planRead(spark: SparkSession, dir: String, v: Int,
                       files: Seq[String]): DataFrame =
    planReadLegs(spark, dir, v, files)(identity)

  /** Epoch-aware scan core: files written before a column RENAME are
    * read under their WRITTEN names (field id = schema position, so
    * the physical schema is the current one with per-position names
    * substituted) and surfaced under the current names positionally —
    * one union leg per distinct epoch among the planned files, each
    * leg a plain pushdown-friendly parquet scan. A never-renamed
    * table takes the single-scan fast path unchanged. `hook` runs on
    * each RAW leg before the rename: the MoR row-identity columns
    * must bind to the leg's own scan relation (`_metadata` does not
    * resolve across a union). */
  private def planReadLegs(spark: SparkSession, dir: String, v: Int,
                           files: Seq[String])
                          (hook: DataFrame => DataFrame): DataFrame = {
    val schemaOpt = readSchema(dir, v)
    val eps = readEpochs(dir, v)
    def plain(fs: Seq[String]): DataFrame =
      hook(schemaOpt.map(spark.read.schema(_)).getOrElse(spark.read)
        .parquet(fs.map(f => s"$dir/$f"): _*))
    if (eps.isEmpty || schemaOpt.isEmpty || files.isEmpty) plain(files)
    else {
      val cur = schemaOpt.get
      val se = readManifest(dir, v).zip(readSepoch(dir, v)).toMap
      val legs = files.groupBy(f => se.getOrElse(f, eps.length))
        .toSeq.sortBy(_._1).map { case (e, fs) =>
          val names = epochNames(cur, eps, e)
          if (names == cur.fieldNames.toSeq) plain(fs)
          else {
            val physical = StructType(cur.fields.zip(names).map {
              case (f0, n) => f0.copy(name = n) })
            val raw = hook(spark.read.schema(physical)
              .parquet(fs.map(f => s"$dir/$f"): _*))
            // hook-added columns keep their names; data columns rename
            // POSITIONALLY back to the current schema
            val extras = raw.columns.drop(cur.length).toSeq
            raw.toDF(cur.fieldNames.toSeq ++ extras: _*)
          }
        }
      legs.reduce(_.unionByName(_))
    }
  }

  /** The manifest-relative path + in-file row position of every row as
    * Columns over a plain scan: `_metadata.file_path` is a URL-encoded
    * URI, decoded through [[graft.functions.UriPath]] (codegen'd) and
    * stripped of the table prefix; `row_index` is parquet's absolute
    * row position (row-group skipping keeps it absolute). The MoR
    * row-identity bridge between scans and delete sidecars. */
  private def rowIdCols(dir: String)
      : (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    val absDir = new File(dir).getAbsolutePath
    val rel = bridge.column(graft.functions.UriPath(
        bridge.expression(col("_metadata.file_path"))))
      .substr(lit(absDir.length + 2), lit(1 << 20))
    (rel, col("_metadata.row_index"))
  }

  /** [[planRead]] plus per-row identity (`__graft_rel`, `__graft_pos`)
    * with the version's positional deletes APPLIED — the scan the MoR
    * DML paths run (a row deleted at v must neither match a later
    * predicate nor re-record its position). */
  private def planReadRowId(spark: SparkSession, dir: String, v: Int,
                            files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val (rel, pos) = rowIdCols(dir)
    val d0 = planReadLegs(spark, dir, v, files)(
      _.withColumn("__graft_rel", rel).withColumn("__graft_pos", pos))
    val dirty = readDirty(dir, v).toSet
    val dels = readDeletes(dir, v)
    if (dels.isEmpty || !files.exists(dirty)) d0
    else {
      val delRows = spark.read.parquet(dels.map(f => s"$dir/$f"): _*)
      d0.join(broadcast(delRows),
        d0("__graft_rel") === delRows("file") &&
          d0("__graft_pos") === delRows("pos"), "left_anti")
    }
  }

  /** [[planRead]] with the version's MERGE-ON-READ positional deletes
    * applied: CLEAN files (no recorded delete) keep the plain
    * vectorized scan untouched; only DIRTY files pay the anti-join,
    * and the delete side broadcasts — deletion vectors are
    * point-delete-sized by design, and compaction / any CoW rewrite
    * folds them back into clean files before they grow. Versions
    * without deletes take the plain path with zero overhead. */
  private[graft] def planReadLogical(spark: SparkSession, dir: String,
                                     v: Int,
                                     files: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions._
    val dirtyAll = readDirty(dir, v).toSet
    val dirtySel = files.filter(dirtyAll)
    if (dirtySel.isEmpty) planRead(spark, dir, v, files)
    else {
      val clean = files.filterNot(dirtyAll)
      val dataCols = readSchema(dir, v)
        .map(_.fieldNames.toSeq)
        .getOrElse(planRead(spark, dir, v, dirtySel).columns.toSeq)
      val applied = planReadRowId(spark, dir, v, dirtySel)
        .select(dataCols.map(col): _*)
      if (clean.isEmpty) applied
      else planRead(spark, dir, v, clean).unionByName(applied)
    }
  }

  def commitWithStats(spark: SparkSession, df: DataFrame, dir: String,
                      overwrite: Boolean = false,
                      statsCol: Option[String] = None): Int =
    commitMultiStats(spark, df, dir, overwrite, statsCol.toSeq)

  /** [[commitWithStats]] tracking min/max stats for SEVERAL columns —
    * one metadata pass whatever the column count; the first column is
    * the primary (compact's range-cluster column), every column prunes
    * at planning ([[manifestFilesPruned]] / the DSv2 scan builder). */
  def commitMultiStats(spark: SparkSession, df: DataFrame, dir: String,
                       overwrite: Boolean = false,
                       statsCols: Seq[String] = Nil): Int = {
    logDir(dir).mkdirs()
    // UNIQUE staging dir: concurrent appenders never collide on file
    // names, which is what makes the optimistic CAS retry sound
    val sub = stagingSub()
    df.write.mode("overwrite").parquet(s"$dir/$sub")
    publishStaged(spark, df, dir, sub, overwrite, statsCols)
  }

  /** A collision-free staging sub-directory (manifests store relative
    * paths, so placement is free; the name never carries meaning). */
  private def stagingSub(): String =
    s"data/c${java.util.UUID.randomUUID().toString.replace("-", "").take(12)}"

  private[graft] val PartDupPrefix = "__part_"

  /** Shared partition-column validation (the API tier and the DSv2
    * write builder): columns must exist in the schema, be distinct,
    * and carry atomic types whose canonical string form round-trips. */
  private[graft] def validatePartCols(schema: StructType,
                                      partCols: Seq[String]): Unit = {
    require(partCols.distinct.length == partCols.length,
      s"duplicate partition columns: ${partCols.mkString(",")}")
    partCols.foreach { c =>
      val f = schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"partition column '$c' not in " +
            s"${schema.fieldNames.mkString(",")}"))
      require(supportedPartType(f.dataType),
        s"partition column '$c' has unsupported type " +
          s"${f.dataType.simpleString} (atomic string/integral/boolean/" +
          "date only — canonical string forms must round-trip)")
    }
  }

  private def supportedPartType(dt: DataType): Boolean = dt match {
    case org.apache.spark.sql.types.StringType |
         org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.ShortType |
         org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.BooleanType |
         org.apache.spark.sql.types.DateType => true
    case _ => false
  }

  /** The canonical string form of a partition value — the write side
    * records `cast(col as string)` and the prune side converts typed
    * predicate literals with THIS function; restricting partition
    * columns to atomic types (string/integral/boolean/date) is what
    * makes the two spellings agree exactly. */
  private[graft] def partValueString(v: Any): String = v match {
    case d: java.sql.Date => d.toString          // yyyy-MM-dd
    case d: java.time.LocalDate => d.toString    // yyyy-MM-dd
    case other => other.toString
  }

  /** Commit `df` HIVE-PARTITIONED by `partCols` (identity transform —
    * the Delta/Iceberg table-partitioning model): the write lands one
    * VALUE-PURE file set per partition tuple (a duplicated
    * `__part_<c>` column drives `partitionBy`, so the real column
    * STAYS in the data files — partition-column-as-data, the
    * reference's §3.1 semantics, and readers need zero path
    * reconstruction), and the manifest records each file's exact value
    * tuple. Planning then prunes partitions from MANIFEST BYTES on
    * equality/IN/IS NULL predicates — exact, not may-contain, because
    * files are value-pure. Appends must keep the same partitioning
    * (refused loudly otherwise); an overwrite may repartition the
    * table. Stats columns compound with partitioning (`statsCols` —
    * the same one-pass metadata job collects both). At 100 TB this is
    * the first-order scan reducer: a daily-partitioned table answers a
    * one-day query from one partition's files before stats or Blooms
    * even run. */
  def commitPartitioned(spark: SparkSession, df: DataFrame, dir: String,
                        partCols: Seq[String],
                        overwrite: Boolean = false,
                        statsCols: Seq[String] = Nil,
                        evolveSpec: Boolean = false): Int = {
    require(partCols.nonEmpty, "commitPartitioned needs partition columns")
    validatePartCols(df.schema, partCols)
    logDir(dir).mkdirs()
    val sub = stagingSub()
    val dups = partCols.map(c => PartDupPrefix + c)
    import org.apache.spark.sql.functions.col
    df.select(df.columns.map(col) ++
        partCols.zip(dups).map { case (c, d) => col(c).as(d) }: _*)
      .write.mode("overwrite").partitionBy(dups: _*)
      .parquet(s"$dir/$sub")
    publishStaged(spark, df, dir, sub, overwrite, statsCols,
      partCols.map(PartTransform.Identity), evolveSpec)
  }

  /** Commit `df` HIDDEN-PARTITIONED by TRANSFORMS of source columns
    * (Iceberg partition transforms: `bucket(N, c)`, `truncate(W, c)`,
    * `day/month/year/hour(ts)` — [[PartTransform]]): the write lands
    * one value-pure file set per DERIVED tuple, the derived column is
    * dropped by the partitioned write (the user's schema is untouched
    * — "hidden"), and the manifest records each file's transform-space
    * tuple plus the spec. Readers then prune on predicates over the
    * SOURCE column: equality/IN map through the transform, ranges
    * prune on monotone transforms (truncate, calendar units) by
    * transform-value comparison — the fix for hand-maintained `date`
    * columns at 100 TB, where forgetting to filter on the derived
    * column means a full scan. Appends must keep the same transforms;
    * an overwrite may change them; spec evolution and the DSv2 write
    * path stay identity-only (refused loudly). [[deletePartitions]] /
    * [[deletePartitionsIn]] values are TRANSFORM-space — they drop
    * whole cells ("the bad day"), which is exactly the metadata
    * delete a cell represents. */
  def commitPartitionedTransforms(spark: SparkSession, df: DataFrame,
                                  dir: String,
                                  transforms: Seq[PartTransform],
                                  overwrite: Boolean = false,
                                  statsCols: Seq[String] = Nil): Int = {
    require(transforms.nonEmpty,
      "commitPartitionedTransforms needs transforms")
    require(transforms.map(_.src).distinct.length == transforms.length,
      "duplicate transform source columns")
    transforms.foreach { t =>
      val f = df.schema.fields.find(_.name == t.src).getOrElse(
        throw new IllegalArgumentException(
          s"transform source '${t.src}' is not a column of the frame " +
            s"(${df.schema.fieldNames.mkString(",")})"))
      t.validate(f)
    }
    // identity columns still validate like plain hive partitioning
    validatePartCols(df.schema, transforms.collect {
      case PartTransform.Identity(c) => c })
    logDir(dir).mkdirs()
    val sub = stagingSub()
    import org.apache.spark.sql.functions.col
    val dups = transforms.map(t => PartDupPrefix + t.src)
    df.select(df.columns.map(col) ++
        transforms.zip(dups).map { case (t, d) =>
          t.expr(col(t.src)).as(d) }: _*)
      .write.mode("overwrite").partitionBy(dups: _*)
      .parquet(s"$dir/$sub")
    publishStaged(spark, df, dir, sub, overwrite, statsCols, transforms)
  }

  /** Publish a commit whose data files are already staged under `sub`:
    * list them, compute/carry stats, evolve the schema, write the
    * manifest. The rename inside [[writeManifest]] is the atomic
    * visibility point. */
  private def publishStaged(spark: SparkSession, df: DataFrame, dir: String,
                            sub: String,
                            overwrite: Boolean,
                            statsCols: Seq[String],
                            partTs: Seq[PartTransform] = Nil,
                            evolveSpec: Boolean = false): Int = {
    val written = listWritten(dir, sub)
    val partCols = partTs.map(_.src)
    // the per-file metadata job runs ONCE (it reads only the staged
    // files, independent of the base version); everything derived from
    // the base recomputes per OPTIMISTIC-RETRY attempt below
    val statIdx = statsCols.zipWithIndex.toMap
    val meta: Map[String,
        (Seq[(Long, Long)], Seq[Option[String]], Seq[Long])] =
      if (statsCols.isEmpty && partTs.isEmpty) Map.empty
      else fileMeta(spark, dir, sub, statsCols, partTs)
    var attempt = 0
    while (true) {
      val prev = versions(dir)
      val v = prev.lastOption.getOrElse(0) + 1
      try {
        return publishStagedOnce(spark, df, dir, prev, v, sub, overwrite,
          statsCols, partTs, evolveSpec, written, statIdx, meta)
      } catch {
        // OPTIMISTIC CONCURRENCY for APPENDS (the Delta retry): a
        // racing commit won the CAS — the staged files are untouched
        // and disjoint from every other writer's, so re-reading the
        // log and re-carrying onto the NEW base is always sound for an
        // append. An overwrite refuses instead: its replace-the-table
        // decision was made against a state that no longer exists.
        case e: java.util.ConcurrentModificationException
            if !overwrite && attempt < 8 && e.getMessage != null &&
              e.getMessage.contains("concurrent commit") =>
          attempt += 1
          Thread.sleep(5L * attempt)
      }
    }
    -1 // unreachable
  }

  /** Maximum segment-chain length before an append falls back to a
    * full manifest rewrite — the metadata analog of data compaction:
    * assembly cost is bounded at 64 small reads, and every 64th append
    * amortizes one O(table) metadata write instead of every append
    * paying it. */
  private val MaxSegments = 64

  /** Publish version `v` as a SEGMENTED append when shape allows: one
    * new segment holding only the NEW files' per-file arrays + a tiny
    * manifest-list referencing the carried segments (a full prev
    * manifest is materialized as a segment once). Returns false — and
    * writes nothing — when any shape condition fails (column-set
    * drift, unreadable new-file rows/sizes where the base records
    * them, chain at cap): the caller then takes the full-manifest
    * path. Metadata IO per append becomes O(delta); readers are
    * storage-agnostic (assembly in [[loaded]]). */
  private def trySegmentedAppend(dir: String, prev: Seq[Int], v: Int,
      action: String,
      newFiles: Seq[String],
      newStats: Seq[(String, Seq[(Long, Long)])],
      newNulls: Seq[(String, Seq[Long])],
      newParts: Option[(Seq[String], Seq[Seq[Option[String]]])],
      schema: Option[StructType]): Boolean = {
    val pm = manifest(dir, prev.last)
    if (pm.stats.map(_._1) != newStats.map(_._1)) return false
    if (pm.pcols != newParts.map(_._1).getOrElse(Nil)) return false
    // nulls tier: the base's recorded columns (in their recorded
    // order) must all be coverable from the new arrays
    val newNullsMap = newNulls.toMap
    if (!pm.nulls.forall(n => newNullsMap.contains(n._1))) return false
    // rows/sizes tiers: where the base records them, every new file
    // must answer, else the tier would silently half-state
    val rows = pm.rows.map(_ => newFiles.map(footerRows(dir, _)))
    val sizes = pm.sizes.map(_ => newFiles.map(fileLen(dir, _)))
    if ((rows ++ sizes).exists(_.exists(_.isEmpty))) return false
    val prevSegs = readSegments(dir, prev.last)
    if (prevSegs.length + 1 > MaxSegments) return false
    // a full prev manifest becomes the chain's first segment (copied —
    // the manifest file itself dies with its version at vacuum, the
    // segment lives by reference-liveness)
    val carriedSegs =
      if (prevSegs.nonEmpty) prevSegs
      else Seq(writeSegmentFile(dir, LogCodec.renderSegment(pm)))
    // the new files' segment; a renamed table's new files are written
    // at the OPEN epoch
    val newSeg = writeSegmentFile(dir, LogCodec.renderSegment(Manifest(
      files = newFiles, stats = newStats,
      nulls = pm.nulls.map { case (c, _) => c -> newNullsMap(c) },
      rows = rows.map(_.flatten), sizes = sizes.map(_.flatten),
      pcols = pm.pcols, pvals = newParts.map(_._2), ptrans = pm.ptrans,
      sepoch = if (pm.epochs.isEmpty) None
               else Some(newFiles.map(_ => pm.epochs.length)))))
    // the list: globals only — this is the O(delta) write. Epochs are
    // GLOBAL (one name-list table per manifest) and ride the list like
    // the schema; per-file sepoch concatenates from the segments
    casPublish(dir, v, LogCodec.render(ManifestList(stamp(v, action,
      Manifest(dels = pm.dels, dirty = pm.dirty, ndel = pm.ndel,
        epochs = pm.epochs, schema = schema)), carriedSegs :+ newSeg)))
    true
  }

  private def writeSegmentFile(dir: String, json: String): String = {
    val name = s"seg-${java.util.UUID.randomUUID().toString
      .replace("-", "").take(12)}.json"
    Files.write(new File(logDir(dir), name).toPath, json.getBytes(UTF_8))
    name
  }

  private def publishStagedOnce(spark: SparkSession, df: DataFrame,
                                dir: String, prev: Seq[Int], v: Int,
                                sub: String, overwrite: Boolean,
                                statsCols: Seq[String],
                                partTs: Seq[PartTransform],
                                evolveSpec: Boolean,
                                written: Seq[String],
                                statIdx: Map[String, Int],
                                meta: Map[String, (Seq[(Long, Long)],
                                  Seq[Option[String]], Seq[Long])]): Int = {
    val partCols = partTs.map(_.src)
    val ptrans = partTs.map(_.spec)
    val pm = baseManifest(dir, prev, overwrite)
    val base = pm.files
    val prevOrder = pm.stats.map(_._1).zipWithIndex.toMap
    if (base.nonEmpty && statsCols.nonEmpty) {
      val prevCols = prevOrder.keySet
      require(prevCols.subsetOf(statsCols.toSet),
        s"append tracks stats for ${statsCols.mkString(",")} but version " +
          s"${prev.last} tracks ${prevCols.mkString(",")} — cover every " +
          "base column or commit stats-free")
    }
    // an append must keep the base's partitioning exactly — UNLESS the
    // caller declares PARTITION-SPEC EVOLUTION (evolveSpec): the new
    // spec applies from this commit on, new files record exact values,
    // and carried files keep what THEIR spec recorded (columns the old
    // spec lacked become the UNKNOWN marker — never prunable, never
    // wrong; a later rewrite re-derives true values). Old data is
    // never rewritten — the point of spec evolution at 100 TB.
    val prevP = pm.pcols
    val prevT = pm.transforms
    if (base.nonEmpty && prevP != partCols) {
      require(evolveSpec,
        s"append partitioned by [${partCols.mkString(",")}] onto " +
          s"version ${prev.last} partitioned by [${prevP.mkString(",")}]" +
          " — appends must keep the table's partitioning " +
          "(commitPartitioned with the same columns); only an " +
          "overwrite may repartition, or pass evolveSpec=true to " +
          "declare a NEW spec (old files keep their recorded tuples)")
      // spec EVOLUTION stays an identity-spec feature: a transform
      // cell is not a column value — the UNKNOWN-marker carry and the
      // repair path have no sound meaning across transform specs
      require(ptrans.forall(_ == "id") && prevT.forall(_ == "id"),
        "evolveSpec with hidden-partition transforms is not supported")
    }
    if (base.nonEmpty && prevP == partCols && prevT != ptrans)
      throw new IllegalArgumentException(
        s"append with transforms [${ptrans.mkString(",")}] onto " +
          s"version ${prev.last} with [${prevT.mkString(",")}] — " +
          "appends must keep the table's partition transforms; only " +
          "an overwrite may change them")
    val prevAll = pm.stats.toMap
    val ordered = statsCols.sortBy(c => prevOrder.getOrElse(c, Int.MaxValue))
    // O(delta) METADATA COMMIT (Iceberg's manifest-list layering,
    // flattened to one level): an append whose column sets match the
    // base writes ONE SEGMENT with the new files' arrays plus a tiny
    // list that references the carried segments — commit metadata IO
    // proportional to the DELTA, not the table (the chronic cost of a
    // daily-append 10^6-file log: every full manifest rewrite pays the
    // whole history again). Shape-changing commits (overwrite, spec
    // evolution, stats-set changes) and every 64th append fall through
    // to the full manifest — bounded segment-chain length is the
    // metadata analog of data compaction.
    if (base.nonEmpty && !overwrite && prevP == partCols &&
        ((ordered.isEmpty && partCols.isEmpty) ||
          written.forall(meta.contains)) && {
      val newStats = ordered.map(c =>
        (c, written.map(f => meta(f)._1(statIdx(c)))))
      val newNulls = ordered.map(c =>
        (c, written.map(f => meta(f)._3(statIdx(c)))))
      val newParts =
        if (partCols.isEmpty) None
        else Some((partCols, written.map(f => meta(f)._2)))
      trySegmentedAppend(dir, prev, v, "append", written, newStats,
        newNulls, newParts, evolvedSchema(dir, prev, df, overwrite))
    }) return v
    val stats: Seq[(String, Seq[(Long, Long)])] =
      ordered.map { c =>
        val i = statIdx(c) // meta holds columns in CALLER order
        val carried =
          if (base.isEmpty) Seq.empty
          else prevAll.getOrElse(c, throw new IllegalStateException(
            s"append with statsCol=$c onto version ${prev.last} which " +
              "has no stats for it"))
        (c, carried ++ written.map(f => meta(f)._1(i)))
      }
    val parts: Option[(Seq[String], Seq[Seq[Option[String]]])] =
      if (partCols.isEmpty) None
      else {
        val carried: Seq[Seq[Option[String]]] =
          if (base.isEmpty) Seq.empty
          else if (prevP == partCols)
            pm.pvals.getOrElse(
              throw new IllegalStateException(
                s"version ${prev.last} declares partition columns but " +
                  "records no values"))
          else {
            // SPEC EVOLUTION: remap each carried file's tuple onto the
            // NEW spec — columns the old spec also recorded keep their
            // exact values (still prunable), columns it lacked become
            // UNKNOWN (this file survives every prune on them)
            val old: Seq[Seq[Option[String]]] =
              pm.pvals.getOrElse(base.map(_ => Seq.empty[Option[String]]))
            val oldIdx = prevP.zipWithIndex.toMap
            old.map(t => partCols.map(c =>
              oldIdx.get(c).map(t).getOrElse(unknownPart)))
          }
        Some((partCols, carried ++ written.map(f => meta(f)._2)))
      }
    // null counts carry by column: a column the base recorded keeps
    // its tier (fresh files from the same fileMeta pass), one it
    // didn't declines — never half-stated
    val prevNulls = pm.nulls.toMap
    val nulls: Seq[(String, Seq[Long])] = ordered.flatMap { c =>
      val i = statIdx(c)
      val carriedNs: Option[Seq[Long]] =
        if (base.isEmpty) Some(Seq.empty) else prevNulls.get(c)
      carriedNs.map(ns => (c, ns ++ written.map(f => meta(f)._3(i))))
    }
    val (eps, sep) =
      if (base.isEmpty) (Nil, Nil)
      else carryEpochs(dir, prev.last, base ++ written)
    writeManifest(dir, v, if (overwrite) "overwrite" else "append",
      base ++ written, stats, evolvedSchema(dir, prev, df, overwrite),
      // carried base files keep their recorded counts and sizes — an
      // append never re-reads the footers of the history it builds on
      carried = pm, parts = parts, nulls = nulls, epochs = eps,
      sepoch = sep, ptrans = ptrans,
      // an append touches no existing file: merge-on-read delete
      // state carries verbatim; an overwrite replaces the content and
      // resets it
      dels = pm.dels, dirty = pm.dirty, ndel = pm.ndel)
    v
  }

  /** Copy-on-write row-level DELETE — the lakehouse DML primitive:
    * remove the rows matching `predicate` as a new commit that rewrites
    * ONLY the files containing a match and carries every other file by
    * reference (at 100 TB a targeted delete touches a handful of files;
    * rewriting the table — or worse, mutating files under readers — is
    * not an option). Mechanics:
    *
    *  1. one predicate-only scan (column pruning reaches it: just the
    *     predicate's columns + the virtual file name) lists the TOUCHED
    *     files — with manifest stats on a range predicate this could
    *     prune candidates before the scan, the same skipping as
    *     [[readSnapshotPruned]];
    *  2. the survivors of only those files are rewritten under the new
    *     version's data dir (rows where the predicate is false or NULL
    *     stay — SQL DELETE semantics);
    *  3. the manifest lists untouched + rewritten files; stats and
    *     schema carry forward. Time travel keeps the pre-delete version
    *     readable until [[vacuum]].
    *
    * A match-nothing delete is a metadata-only no-op commit. Deleting
    * every row leaves an empty but still-readable table — the rewrite
    * keeps a schema-bearing (possibly empty) parquet file; should the
    * write produce no file at all the commit is refused loudly rather
    * than publishing an anchorless manifest. Returns the new version. */
  def delete(spark: SparkSession, dir: String, predicate: Column): Int = {
    import org.apache.spark.sql.functions._
    if (mergeOnRead(dir)) morDelete(spark, dir, predicate)
    else cowRewrite(spark, dir, predicate, "delete")(
      _.where(!coalesce(predicate, lit(false))))
  }

  /** Copy-on-write UPDATE — `SET col = expr` on the rows matching
    * `predicate`, the other half of lakehouse DML: identical mechanics
    * to [[delete]] (touched files found by one predicate-only scan,
    * only they rewrite, everything else carried by reference, stats and
    * schema carry, history stays readable). Assignments apply only
    * where the predicate is TRUE (false or NULL rows pass through
    * unchanged); an assignment may not change the column's type —
    * refused loudly, type drift under DML is schema corruption — and
    * must name an existing column (UPDATE changes values; new columns
    * are [[commit]] schema evolution's job). */
  def update(spark: SparkSession, dir: String, predicate: Column,
             assignments: Map[String, Column]): Int = {
    import org.apache.spark.sql.functions._
    if (mergeOnRead(dir)) return morUpdate(spark, dir, predicate, assignments)
    cowRewrite(spark, dir, predicate, "update") { df =>
      assignments.keys.foreach { c =>
        require(df.columns.contains(c),
          s"UPDATE assigns unknown column '$c' (have ${df.columns.mkString(",")})")
      }
      val hit = coalesce(predicate, lit(false))
      val out = df.select(df.columns.map { c =>
        assignments.get(c)
          .map(e => when(hit, e).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*)
      df.schema.fields.zip(out.schema.fields).foreach { case (a, b) =>
        require(a.dataType.simpleString == b.dataType.simpleString,
          s"UPDATE may not change '${a.name}' from " +
            s"${a.dataType.simpleString} to ${b.dataType.simpleString}")
      }
      out
    }
  }

  /** MERGE INTO (upsert DML): apply `source` to the table keyed by
    * `keys` with [[graft.ops.Merge.upsert]]'s row semantics — WHEN
    * MATCHED the source row wins column-wise (NULL source columns keep
    * the base value, deltas may carry partial rows), WHEN NOT MATCHED
    * the source row inserts. Same copy-on-write mechanics as
    * [[delete]]/[[update]], with the touched set found by a key
    * SEMI-JOIN instead of a predicate: any file holding a source key
    * rewrites (its survivors upserted together with ALL source rows —
    * unmatched keys insert into the same rewrite), every other file
    * carries by reference. With manifest stats on a key column the
    * semi-join scans only the files overlapping the source keys'
    * [min, max] envelope — the [[readSnapshotPruned]] skipping applied
    * to DML (a narrow-key delta MERGE never scans the whole table).
    * `source` must carry exactly the table's columns (the upsert core
    * is column-wise; add-column merges are [[commit]] evolution's job);
    * a source with duplicate keys is refused — MERGE's "multiple rows
    * matched" error, since which row wins would be nondeterministic. */
  def merge(spark: SparkSession, dir: String, source: DataFrame,
            keys: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    if (mergeOnRead(dir) && versions(dir).nonEmpty)
      return morMerge(spark, dir, source, keys)
    val vs = versions(dir)
    if (vs.isEmpty) {
      // merge into an empty table = the initial commit (every source row
      // is WHEN NOT MATCHED) — the bootstrap case of a CDC ingest loop,
      // which shouldn't need a special first-batch code path
      val dup0 = source.groupBy(keys.map(col): _*)
        .agg(count(lit(1)).as("_n")).where(col("_n") > 1).limit(1).count()
      require(dup0 == 0,
        s"merge source has duplicate keys on (${keys.mkString(",")})")
      return commit(spark, source, dir)
    }
    val prevV = vs.last
    val files = readManifest(dir, prevV)
    val schema = readSchema(dir, prevV)
    val full = planReadLogical(spark, dir, prevV, files)
    require(source.columns.sorted.sameElements(full.columns.sorted),
      s"merge source columns ${source.columns.sorted.mkString(",")} != " +
        s"table columns ${full.columns.sorted.mkString(",")}")
    val src = source.select(full.columns.map(col): _*)
    val dupKeys = src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n")).where(col("_n") > 1).limit(1).count()
    require(dupKeys == 0,
      s"merge source has duplicate keys on (${keys.mkString(",")})")
    val keyRows = src.select(keys.map(col): _*).distinct()
    // STATS-PRUNED touched-file discovery: when the manifest records
    // min/max for a key column, a file whose range misses the source
    // keys' [min, max] envelope cannot hold a match — the semi-join
    // scans only the overlapping candidates instead of the whole
    // table (the q154 skipping tier applied to DML; at 100 TB a
    // narrow-key-range delta MERGE stops paying a full-table scan).
    // May-contain pruning only narrows the candidate set; unmatched
    // keys still insert through the rewrite regardless.
    // the envelope agg is one (tiny) extra Spark job: below ~16 files
    // the full candidate scan is a single task wave anyway, so the
    // prune can only add latency — engage it where it pays (the
    // AutoRoute convention: measured-threshold dispatch, not faith)
    val statsKeys =
      if (files.length < 16) Nil
      else keys.filter(statsColumns(dir, prevV).contains)
    val candidates: Seq[String] =
      if (statsKeys.isEmpty) files
      else {
        val aggs = statsKeys.flatMap(k => Seq(
          min(col(k)).cast("long").as(s"mn_$k"),
          max(col(k)).cast("long").as(s"mx_$k")))
        val env = src.agg(aggs.head, aggs.tail: _*).head()
        val bounds = statsKeys.zipWithIndex.flatMap { case (k, i) =>
          // an all-NULL or empty source has no envelope: skip the
          // column (prune stays sound)
          if (env.isNullAt(2 * i)) None
          else Some(k -> ((env.getLong(2 * i), env.getLong(2 * i + 1))))
        }.toMap
        manifestFilesPruned(dir, prevV, bounds)
      }
    val scanBase =
      if (candidates.length == files.length) full
      else if (candidates.isEmpty) full.where(lit(false))
      else planReadLogical(spark, dir, prevV, candidates)
    val touchedAbs = scanBase.withColumn("_f", input_file_name())
      .join(broadcast(keyRows), keys, "left_semi")
      .select("_f").distinct().collect().map(_.getString(0)).toSet
    val touchedSet = resolveTouched(files, touchedAbs)
    val touched = files.filter(touchedSet)
    val untouched = files.filterNot(touchedSet)
    val v = prevV + 1
    val sub = f"data/v$v%05d"
    val base =
      if (touched.isEmpty) full.where(lit(false)) // all-insert merge
      else planReadLogical(spark, dir, prevV, touched)
    // CHANGE-DATA-FEED sidecar: a source key that matches the base at
    // all matches inside a TOUCHED file (touched discovery is the
    // key-membership scan), so matched pre/postimages and the
    // unmatched-key inserts all derive from `base` (the touched reads)
    // and the small `src` — no extra full-table pass
    if (changeFeedEnabled(dir)) {
      val ct = "_change_type"
      val touchedKeys = base.select(keys.map(col): _*).distinct()
      val matchedBase = base.join(broadcast(keyRows), keys, "left_semi")
      val matchedSrc = src.join(touchedKeys, keys, "left_semi")
      val pre = matchedBase.withColumn(ct, lit("update_preimage"))
      // postimages are the COMMITTED rows for the matched keys — derive
      // them with the same column-wise coalesce the commit applies
      // (Merge.upsert restricted to matched keys): a NULL source column
      // keeps the base value, so recording the raw source rows would
      // put NULLs in the feed that the table rows don't carry, and any
      // incremental consumer (the q244 pattern) would silently drift
      val post = graft.ops.Merge.upsert(matchedBase, matchedSrc, keys)
        .select(src.columns.map(col): _*)
        .withColumn(ct, lit("update_postimage"))
      val ins = src.join(touchedKeys, keys, "left_anti")
        .withColumn(ct, lit("insert"))
      writeChanges(pre.unionByName(post).unionByName(ins), dir, v)
    }
    writeMaybePartitioned(dir, prevV,
      graft.ops.Merge.upsert(base, src, keys), sub)
    val written = listWritten(dir, sub)
    publish(spark, dir, prevV, v, untouched, written, "merge", schema)
  }

  /** Resolve the ABSOLUTE paths a touched-file scan collected back to
    * the manifest's relative entries in O(|files| + |touched|): group
    * manifest entries by bare file name once, then each absolute path
    * looks up its name's (almost always singleton) candidate list and
    * confirms by suffix. The naive `files.filter(f =>
    * touchedAbs.exists(_.endsWith(f)))` is O(|files|·|touched|) string
    * scans on the driver — ~10^9 `endsWith` calls for a wide MERGE on a
    * million-file table. */
  private def resolveTouched(files: Seq[String],
                             touchedAbs: Set[String]): Set[String] = {
    val byName = files.groupBy(f => f.substring(f.lastIndexOf('/') + 1))
    touchedAbs.flatMap { raw =>
      // the scan-side names are URL-encoded input_file_name() output,
      // the manifest entries on-disk names — decode before matching or
      // escaped partition dirs silently resolve as untouched (a DML
      // no-op on exactly the rows that were asked for)
      val a = decodeScanPath(raw)
      val name = a.substring(a.lastIndexOf('/') + 1)
      byName.getOrElse(name, Nil).filter(a.endsWith)
    }
  }

  /** METADATA-ONLY partition delete (Delta's partition-delete fast
    * path): dropping whole partitions needs NO data scan and NO
    * rewrite — files are value-pure and the manifest records each
    * file's exact tuple, so `DELETE FROM t WHERE day = x` publishes a
    * manifest that simply omits the matching partitions' files. At
    * 100 TB this turns "drop yesterday's bad partition" from a
    * touched-file rewrite into one manifest write, zero data IO; every
    * prior version stays time-travelable as always. A `null` value
    * selects the NULL partition. Deleting every file refuses (the
    * cowRewrite convention — use an overwrite commit to empty a
    * table); a match-nothing delete is a metadata no-op commit.
    * Returns the new version. */
  def deletePartitions(dir: String, partEq: Map[String, Any]): Int =
    deletePartitionsIn(dir, partEq.view.mapValues(Seq(_)).toMap)

  /** [[deletePartitions]] with IN-list semantics: a file drops when
    * every constrained column's recorded value is IN the given set —
    * `DELETE FROM t WHERE day IN (d1, d2)` as ONE metadata-only
    * commit. */
  def deletePartitionsIn(dir: String,
                         partIn: Map[String, Seq[Any]]): Int = {
    require(partIn.nonEmpty, "deletePartitions needs predicates")
    require(partIn.values.forall(_.nonEmpty),
      "deletePartitions: an empty IN-set matches nothing")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val pm = manifest(dir, prevV)
    val pcols = pm.pcols
    partIn.keys.foreach(c => require(pcols.contains(c),
      s"'$c' is not a partition column of v$prevV (have " +
        s"${pcols.mkString(",")})"))
    val files = pm.files
    val pvals = pm.pvals.getOrElse(
      throw new IllegalStateException(
        s"version $prevV declares partition columns but records no values"))
    val idx = partIn.map { case (c, xs) =>
      pcols.indexOf(c) -> xs.map(x => Option(x).map(partValueString)).toSet
    }
    // a pre-evolution file with an UNKNOWN value in a constrained
    // column cannot be decided from metadata — it may hold matching
    // rows the drop would have to remove. Refuse toward the
    // copy-on-write path instead of silently under-deleting.
    files.zip(pvals).foreach { case (f, tuple) =>
      idx.keys.foreach(i => require(!isUnknownPart(tuple(i)),
        s"partition delete cannot decide file $f from metadata: its " +
          s"'${pcols(i)}' value predates the current partition spec " +
          "(unknown) — use a copy-on-write delete"))
    }
    val dropped = files.zip(pvals).collect {
      case (f, tuple) if idx.forall { case (i, set) =>
        set.contains(tuple(i)) } => f
    }.toSet
    val keep = files.filterNot(dropped)
    require(keep.nonEmpty,
      s"partition delete would empty the table at $dir; use an " +
        "overwrite commit")
    val keepSet = keep.toSet
    // merge-on-read carry: dirty files that survive keep their
    // deletes; dropping a dirty partition re-counts the live
    // tombstones (one metadata-scale job through the active session)
    val dirtyNew = pm.dirty.filter(keepSet)
    val delsNew = if (dirtyNew.isEmpty) Nil else pm.dels
    val ndelNew =
      if (delsNew.isEmpty) 0L
      else if (dirtyNew == pm.dirty) pm.ndel
      else {
        import org.apache.spark.sql.functions.col
        SparkSession.active.read
          .parquet(delsNew.map(f => s"$dir/$f"): _*)
          .where(col("file").isin(dirtyNew: _*)).count()
      }
    // every other tier, epoch indexes included, keeps the survivors'
    // recorded values
    publishManifest(dir, prevV + 1, "delete", probeTiers(dir,
      pm.retain(keepSet).copy(dels = delsNew, dirty = dirtyNew,
        ndel = ndelNew)))
    prevV + 1
  }

  /** Shared copy-on-write DML core: find the files with a predicate
    * match, rewrite only those through `rewrite`, carry the rest. */
  private def cowRewrite(spark: SparkSession, dir: String,
                         predicate: Column, action: String)
                        (rewrite: DataFrame => DataFrame): Int = {
    import org.apache.spark.sql.functions._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val files = readManifest(dir, prevV)
    val full = planReadLogical(spark, dir, prevV, files)
    val touchedAbs = full.where(predicate)
      .select(input_file_name().as("f")).distinct()
      .collect().map(_.getString(0)).toSet
    val touchedSet = resolveTouched(files, touchedAbs)
    val touched = files.filter(touchedSet)
    val untouched = files.filterNot(touchedSet)
    val v = prevV + 1
    val schema = readSchema(dir, prevV)
    val written: Seq[String] =
      if (touched.isEmpty) Seq.empty
      else {
        val sub = f"data/v$v%05d"
        // deletes-applied read: rewriting a DIRTY file folds its
        // positional deletes into the clean rewrite (publish then
        // drops it from the dirty set)
        val src = planReadLogical(spark, dir, prevV, touched)
        val out = rewrite(src)
        // CHANGE-DATA-FEED sidecar (when the table enabled it): the
        // rewrite already reads exactly the touched rows, so the
        // row-level changes cost one more pass over only those files.
        // Postimages reuse the SAME rewrite expression applied to the
        // predicate-FILTERED rows — filter FIRST, then rewrite: the
        // predicate must see pre-assignment values (an UPDATE whose
        // predicate references an assigned column, `SET n=999 WHERE
        // n=100`, matches on the OLD value; rewriting first and
        // filtering after would re-evaluate it on the new values and
        // record a wrong/empty postimage set). Assignments apply where
        // the predicate held, so rewrite(filtered) is exactly the
        // committed updated rows.
        if (changeFeedEnabled(dir)) {
          val ct = "_change_type"
          val changed = action match {
            case "delete" =>
              Some(src.where(predicate)
                .withColumn(ct, lit("delete")))
            case "update" =>
              Some(src.where(predicate)
                .withColumn(ct, lit("update_preimage"))
                .unionByName(rewrite(src.where(predicate))
                  .withColumn(ct, lit("update_postimage"))))
            case _ => None
          }
          changed.foreach(writeChanges(_, dir, v))
        }
        writeMaybePartitioned(dir, prevV, out, sub)
        val w = listWritten(dir, sub)
        if (w.nonEmpty) w
        else {
          // a PARTITIONED dynamic write emits NO files when the rewrite
          // deleted every row — materialize the zero-row anchor
          // explicitly (plain parquet: the anchor holds no rows, so
          // value purity is moot; publish records its sentinel stats
          // and all-NULL tuple), so a full delete publishes the
          // emptied state instead of refusing
          out.limit(0).write.mode("append").parquet(s"$dir/$sub")
          listWritten(dir, sub)
        }
      }
    require(untouched.nonEmpty || written.nonEmpty,
      s"$action would empty the table at $dir; use an overwrite commit")
    publish(spark, dir, prevV, v, untouched, written, action, schema)
  }

  /** Stage a DML rewrite's output under `$dir/$sub`, keeping the
    * table's partition layout when it has one: the rewrite re-splits by
    * partition value (the duplicated-column `partitionBy` trick of
    * [[commitPartitioned]]), so rewritten files stay VALUE-PURE — an
    * UPDATE that moves a row across partition values lands it in the
    * right file set, and [[publish]] re-derives truthful per-file
    * values from the written data. */
  private def writeMaybePartitioned(dir: String, prevV: Int,
                                    out: DataFrame, sub: String): Unit = {
    import org.apache.spark.sql.functions.col
    val ts = partTransformsOf(dir, prevV)
    if (ts.isEmpty) out.write.mode("overwrite").parquet(s"$dir/$sub")
    else {
      // the dup column carries the TRANSFORM value (identity = cast),
      // so rewrites of hidden-partitioned tables stay value-pure in
      // transform space; publish re-derives tuples from the data
      out.select(out.columns.map(col) ++
          ts.map(t => t.expr(col(t.src)).as(PartDupPrefix + t.src)): _*)
        .write.mode("overwrite")
        .partitionBy(ts.map(t => PartDupPrefix + t.src): _*)
        .parquet(s"$dir/$sub")
    }
  }

  /** The parquet files a just-finished write landed under `$dir/$sub`,
    * as manifest-relative paths — RECURSIVE, so a partitioned layout's
    * `__part_c=v/part-*.parquet` leaves list too. */
  private def listWritten(dir: String, sub: String): Seq[String] = {
    def walk(f: File, rel: String): Seq[String] = {
      val kids = Option(f.listFiles()).getOrElse(Array.empty)
      kids.flatMap { k =>
        if (k.isDirectory) walk(k, s"$rel/${k.getName}")
        else if (k.getName.endsWith(".parquet")) Seq(s"$rel/${k.getName}")
        else Seq.empty
      }.toSeq
    }
    walk(new File(dir, sub), sub).sorted
  }

  /** Publish a DML commit: carry untouched files' stats, recompute the
    * rewritten files', write the manifest. `writtenSub` is the staging
    * dir the rewritten files live under (the API DML paths stage under
    * the version dir; the SQL row-level write stages under its own
    * write dir). */
  private[graft] def publish(spark: SparkSession, dir: String, prevV: Int,
                      v: Int,
                      untouched: Seq[String], written: Seq[String],
                      action: String, schema: Option[StructType],
                      writtenSub: Option[String] = None,
                      newDels: Seq[String] = Nil,
                      newDirty: Seq[String] = Nil): Int = {
    val pm = manifest(dir, prevV)
    val files = pm.files
    val untouchedSet = untouched.toSet
    val prevAll = pm.stats
    val cols = prevAll.map(_._1)
    val pcols = pm.pcols
    val meta: Map[String,
        (Seq[(Long, Long)], Seq[Option[String]], Seq[Long])] =
      if ((cols.isEmpty && pcols.isEmpty) || written.isEmpty) Map.empty
      else fileMeta(spark, dir,
        writtenSub.getOrElse(f"data/v$v%05d"), cols,
        partTransformsOf(dir, prevV))
    // only the ZERO-ROW anchor file may legitimately miss the meta map
    // (no rows → no group); a data-bearing miss means the scan path and
    // the listing disagree on a file's name, and falling through to the
    // always-prune sentinel / all-NULL tuple would silently drop its
    // rows from pruned reads — fail loudly instead (one footer read per
    // miss; misses are the rare anchor case)
    if (meta.nonEmpty) written.filterNot(meta.contains).foreach { f =>
      footerRows(dir, f).filter(_ > 0L).foreach { n =>
        throw new IllegalStateException(
          s"commit meta miss: written file $f holds $n rows but " +
            "produced no stats/partition group — scan-vs-listing path " +
            "mismatch would corrupt manifest pruning")
      }
    }
    val stats = prevAll.zipWithIndex.map { case ((c, prevStats), i) =>
      val carried = files.zip(prevStats).collect {
        case (f, mm) if untouchedSet(f) => f -> mm
      }.toMap
      // a zero-row written file (the rewrite-everything-away anchor)
      // has no stats group: the (MaxValue, MinValue) sentinel prunes
      // always — correct under may-contain semantics
      (c, (untouched.map(f => carried(f)) ++ written.map { f =>
        meta.get(f).map(_._1(i))
          .getOrElse((Long.MaxValue, Long.MinValue))
      }))
    }
    // partition values: untouched files carry their recorded tuples,
    // rewritten files get values re-derived from the written data (the
    // rewrite keeps value purity via writeMaybePartitioned); the
    // zero-row anchor records an all-NULL tuple (prunes under any
    // equality, matches nothing — it holds nothing)
    val parts: Option[(Seq[String], Seq[Seq[Option[String]]])] =
      if (pcols.isEmpty) None
      else {
        val carried = files.zip(pm.pvals.getOrElse(
          throw new IllegalStateException(
            s"version $prevV declares partition columns but records " +
              "no values"))).collect {
          case (f, t) if untouchedSet(f) => f -> t
        }.toMap
        Some((pcols, untouched.map(carried) ++ written.map { f =>
          meta.get(f).map(_._2)
            .getOrElse(Seq.fill(pcols.length)(None))
        }))
      }
    // null counts: untouched files carry, rewritten files answer from
    // the same fileMeta pass (a zero-row anchor holds zero nulls);
    // columns the previous version never recorded decline
    val prevNulls = pm.nulls.toMap
    val nulls: Seq[(String, Seq[Long])] = cols.zipWithIndex.flatMap {
      case (c, i) =>
        prevNulls.get(c).map { ns =>
          val byFile = files.zip(ns).toMap
          (c, untouched.map(byFile) ++ written.map(f =>
            meta.get(f).map(_._3(i)).getOrElse(0L)))
        }
    }
    // MERGE-ON-READ carry: a dirty file that stays carries its deletes;
    // one this commit REWROTE drops out (the rewrite read the logical
    // rows, so its deletes are folded in — the dead positions reference
    // a file name that no longer exists). Sidecars survive while any
    // dirty file remains; the live deleted-row count recomputes only
    // when the dirty set actually changed (one small metadata-scale
    // job), else carries.
    val prevDels = pm.dels
    val prevDirty = pm.dirty
    val dirtyNew = (prevDirty.filter(untouchedSet) ++ newDirty).distinct
    val delsNew =
      if (dirtyNew.isEmpty) Nil else (prevDels ++ newDels).distinct
    val ndelNew =
      if (delsNew.isEmpty) 0L
      else if (delsNew == prevDels && dirtyNew == prevDirty) pm.ndel
      else {
        import org.apache.spark.sql.functions.col
        spark.read.parquet(delsNew.map(f => s"$dir/$f"): _*)
          .where(col("file").isin(dirtyNew: _*)).count()
      }
    val (eps, sep) = carryEpochs(dir, prevV, untouched ++ written)
    writeManifest(dir, v, action, untouched ++ written, stats, schema,
      carried = pm, parts = parts, nulls = nulls,
      dels = delsNew, dirty = dirtyNew, ndel = ndelNew,
      epochs = eps, sepoch = sep, ptrans = pm.transforms)
    v
  }

  /** WRITE-AUDIT-PUBLISH commit (the Iceberg WAP pattern): stage the
    * data write under the next version's directory, AUDIT the staged
    * files with [[graft.ops.Expectations]] — the audit reads what was
    * actually written, so it catches writer bugs as well as bad input —
    * and publish the manifest ONLY when every check passes. Readers
    * never see an unpublished stage (they plan from manifests, staged
    * data is invisible), so a failing audit costs nothing downstream:
    * the staged files are removed, the log is untouched, and the
    * returned report says which checks failed. This is the promotion
    * gate a 100 TB daily ingest runs — the alternative, auditing after
    * publish, means consumers can read the bad version first.
    *
    * Returns (Some(newVersion), report) when published,
    * (None, report) when the audit failed and nothing was committed. */
  def commitAudited(spark: SparkSession, df: DataFrame, dir: String,
                    rowChecks: Seq[graft.ops.Expectations.RowCheck],
                    uniqueChecks: Seq[graft.ops.Expectations.UniqueCheck] = Nil,
                    overwrite: Boolean = false,
                    statsCol: Option[String] = None,
                    partCols: Seq[String] = Nil): (Option[Int], DataFrame) = {
    import org.apache.spark.sql.functions.col
    if (partCols.nonEmpty) validatePartCols(df.schema, partCols)
    logDir(dir).mkdirs()
    val sub = stagingSub()
    // partitioned WAP: stage value-pure per-tuple file sets exactly
    // like commitPartitioned (the audit then gates a partitioned
    // publish — the daily day-partitioned ingest's promotion gate)
    if (partCols.isEmpty)
      df.write.mode("overwrite").parquet(s"$dir/$sub")
    else {
      val dups = partCols.map(c => PartDupPrefix + c)
      df.select(df.columns.map(col) ++
          partCols.zip(dups).map { case (c, d) => col(c).as(d) }: _*)
        .write.mode("overwrite").partitionBy(dups: _*)
        .parquet(s"$dir/$sub")
    }
    val staged = spark.read.parquet(s"$dir/$sub")
      .select(df.columns.map(col): _*) // drop the dup __part_* columns
    val checked = graft.ops.Expectations.check(staged, rowChecks, uniqueChecks)
    // materialize the report NOW (≤ #checks rows — the verdict, not the
    // data): its lineage must not reference the staged files, which a
    // failed audit deletes and the next attempt's stage overwrites
    val verdict = checked.collect().toSeq
    val report = spark.createDataFrame(
      spark.sparkContext.parallelize(verdict, 1), checked.schema)
    val allPass = verdict.forall(_.getAs[Boolean]("pass"))
    if (!allPass) {
      // un-stage: delete the written files + dir, leave the log untouched
      def rm(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        Files.deleteIfExists(f.toPath)
      }
      rm(new File(dir, sub))
      (None, report)
    } else {
      // publish the STAGED files — what was audited is what readers see
      (Some(publishStaged(spark, df, dir, sub, overwrite,
        statsCol.toSeq, partCols.map(PartTransform.Identity))), report)
    }
  }

  /** Range scan with MANIFEST-LEVEL file pruning: plans only the files
    * whose recorded [min, max] of the stats column intersects
    * [lo, hi], then applies the row-level predicate. Falls back to the
    * full file set when the version carries no stats (correct either
    * way — stats only skip, never filter rows). */
  def readSnapshotPruned(spark: SparkSession, dir: String, statsCol: String,
                         lo: Long, hi: Long, asOf: Option[Int] = None)
      : DataFrame = {
    import org.apache.spark.sql.functions._
    val v = resolveVersion(dir, asOf)
    val files = readManifest(dir, v)
    val kept = manifestFiles(dir, v, Some((lo, hi)))
    require(files.nonEmpty, s"manifest v$v lists no files")
    if (kept.isEmpty)
      // every file pruned: an empty frame with the table's real schema
      readSnapshot(spark, dir, Some(v)).where(lit(false))
    else planReadLogical(spark, dir, v, kept)
      .where(col(statsCol) >= lo && col(statsCol) <= hi)
  }

  /** Partition-pruned read: plans ONLY the files whose recorded
    * partition tuple matches every (column → value) in `eq` (exact —
    * files are value-pure), then re-applies the predicate row-level
    * (defense in depth; it is free on a pruned scan). A `null` value
    * selects the NULL partition. Keys must name partition columns of
    * the version — a typo'd column would otherwise silently scan
    * everything. (`partEq`, not `eq`: AnyRef.eq shadows.) */
  def readSnapshotPartitioned(spark: SparkSession, dir: String,
                              partEq: Map[String, Any],
                              asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    require(partEq.nonEmpty, "readSnapshotPartitioned needs predicates")
    val v = resolveVersion(dir, asOf)
    val pcols = partitionColumns(dir, v)
    partEq.keys.foreach(c => require(pcols.contains(c),
      s"'$c' is not a partition column of v$v (have " +
        s"${pcols.mkString(",")})"))
    // hidden partitioning: the predicate is on the SOURCE column; the
    // prune maps its literal through the column's transform (a literal
    // the transform cannot map declines the prune — the residual row
    // filter below keeps the answer exact)
    val tOf = partTransformsOf(dir, v).map(t => t.src -> t).toMap
    val keep = partEq.flatMap { case (c, x) =>
      if (x == null) Some(c -> Set(Option.empty[String]))
      else tOf(c).literal(x).map(s => c -> Set(Option(s)))
    }
    val kept = manifestFilesPruned(dir, v, Map.empty, keep)
    val pred = partEq.map { case (c, x) =>
      if (x == null) col(c).isNull else col(c) === lit(x)
    }.reduce(_ && _)
    if (kept.isEmpty) readSnapshot(spark, dir, Some(v)).where(lit(false))
    else planReadLogical(spark, dir, v, kept).where(pred)
  }

  /** [[readSnapshotPruned]] over SEVERAL columns at once: plans only
    * the files whose recorded [min, max] intersects EVERY given bound
    * (bounds on untracked columns are ignored — may-contain stays
    * sound), then applies all row-level predicates. */
  def readSnapshotPrunedMulti(spark: SparkSession, dir: String,
                              bounds: Map[String, (Long, Long)],
                              asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.functions._
    val v = resolveVersion(dir, asOf)
    val kept = manifestFilesPruned(dir, v, bounds)
    val pred = bounds.map { case (c, (lo, hi)) =>
      col(c) >= lo && col(c) <= hi
    }.reduceOption(_ && _).getOrElse(lit(true))
    if (kept.isEmpty) readSnapshot(spark, dir, Some(v)).where(lit(false))
    else planReadLogical(spark, dir, v, kept).where(pred)
  }

  /** The table as of `asOf` (default: latest). Plans a parquet scan over
    * exactly the manifest's files — no directory listing — with the
    * version's RECORDED schema when present (evolved columns null-fill
    * on files that predate them; no footer sampling). An empty file set
    * is a contract violation here (commits always write ≥ 1 file), so
    * it fails loudly rather than fabricating an empty frame with an
    * unknown schema. */
  def readSnapshot(spark: SparkSession, dir: String,
                   asOf: Option[Int] = None): DataFrame = {
    val v = resolveVersion(dir, asOf)
    val files = readManifest(dir, v)
    require(files.nonEmpty, s"manifest v$v lists no files")
    planReadLogical(spark, dir, v, files)
  }

  /** Compaction (`OPTIMIZE`): rewrite the CURRENT visible content into
    * `numFiles` files as a new overwrite commit. Content-identical by
    * construction — the commit machinery is reused unchanged, so the
    * compacted version is just another version (and the small-file
    * history it replaced stays time-travelable until [[vacuum]]).
    * Small-file accumulation is the chronic failure mode of daily
    * append logs at 100 TB: scan tasks per file, not per byte. */
  def compact(spark: SparkSession, dir: String, numFiles: Int,
              statsCol: Option[String] = None): Int = {
    // the compacted version keeps tracking EVERY stats column AND the
    // partitioning the current version carries (an OPTIMIZE that
    // silently dropped either would disable its pruning without a
    // trace); range-clustering stays single-column — the given one,
    // else the table's primary
    val cur = resolveVersion(dir)
    val cluster = statsCol.orElse(statsColumn(dir, cur))
    val cols = (cluster.toSeq ++ statsColumns(dir, cur)).distinct
    val pcols = partitionColumns(dir, cur)
    dataChange.withValue(false) { // rewrite-only: the feed skips it
    if (pcols.nonEmpty) {
      // hash-split into <= numFiles tasks: each partition value lands
      // in exactly one task, so partitionBy writes ~one file per value
      import org.apache.spark.sql.functions.col
      commitPartitioned(spark,
        readSnapshot(spark, dir)
          .repartition(numFiles, pcols.map(col): _*),
        dir, pcols, overwrite = true, statsCols = cols)
    } else commitMultiStats(spark,
      // range-repartition on the cluster column when there is one, so
      // the compacted files carry TIGHT disjoint ranges (stats + layout
      // compound); plain repartition otherwise
      cluster.map(c => readSnapshot(spark, dir)
          .repartitionByRange(numFiles, org.apache.spark.sql.functions.col(c)))
        .getOrElse(readSnapshot(spark, dir).repartition(numFiles)),
      dir, overwrite = true, statsCols = cols)
    }
  }

  /** Compact ONE PARTITION's files (`OPTIMIZE t WHERE day = x`): the
    * streaming partitioned sink appends one file per partition value
    * per epoch, so small files accumulate PER PARTITION — and the hot
    * partition (today) is the one worth compacting while history's
    * files stay byte-identical and carried by reference. Reads only
    * the matching partition's files, rewrites them into `numFiles`
    * value-pure files, publishes one commit; stats/rows/sizes/tuples
    * recompute for the rewritten files and carry for every other.
    * Content-identical by construction. At 100 TB this is the ONLY
    * affordable OPTIMIZE cadence: full-table compaction rewrites
    * everything for a problem one partition has. */
  def compactPartition(spark: SparkSession, dir: String,
                       partEq: Map[String, Any],
                       numFiles: Int = 1): Int = {
    require(partEq.nonEmpty, "compactPartition needs predicates")
    require(numFiles >= 1, "numFiles must be >= 1")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val pcols = partitionColumns(dir, prevV)
    partEq.keys.foreach(c => require(pcols.contains(c),
      s"'$c' is not a partition column of v$prevV (have " +
        s"${pcols.mkString(",")})"))
    val files = readManifest(dir, prevV)
    val pvals = readPartValues(dir, prevV).getOrElse(
      throw new IllegalStateException(
        s"version $prevV declares partition columns but records no values"))
    val idx = partEq.map { case (c, x) =>
      pcols.indexOf(c) -> Option(x).map(partValueString)
    }
    val touched = files.zip(pvals).collect {
      case (f, tuple) if idx.forall { case (i, v) => tuple(i) == v } => f
    }
    require(touched.nonEmpty,
      s"no files in partition ${partEq.mkString(",")} at v$prevV")
    val touchedSet = touched.toSet
    val untouched = files.filterNot(touchedSet)
    val v = prevV + 1
    val sub = f"data/v$v%05d"
    val schema = readSchema(dir, prevV)
    writeMaybePartitioned(dir, prevV,
      planReadLogical(spark, dir, prevV, touched)
        .repartition(numFiles), sub)
    publish(spark, dir, prevV, v, untouched, listWritten(dir, sub),
      "compact", schema)
  }

  /** SMALL-FILE BINPACK (Delta's default OPTIMIZE mode): rewrite ONLY
    * the files below `smallBytes`, carrying every adequately-sized
    * file by reference — at 100 TB this is the difference between an
    * affordable nightly OPTIMIZE and a full-table rewrite for a
    * problem only the streaming tail has (per-epoch sinks append
    * small files forever; the big compacted files from LAST night's
    * run must not be rewritten again tonight). Sizes come from
    * MANIFEST BYTES (the per-file size tier — zero status calls);
    * a log without recorded sizes refuses loudly rather than stat
    * 10^6 files. Partitioned tables rewrite through the partitioned
    * stager so cells stay value-pure (hidden transforms included);
    * merge-on-read tombstones on rewritten files fold in; stamped
    * rewrite-only so the change feed skips it. Returns None when
    * fewer than two small files exist — nothing to gain. */
  def compactSmall(spark: SparkSession, dir: String,
                   smallBytes: Long, numFiles: Int = 1): Option[Int] = {
    require(smallBytes > 0, "smallBytes must be positive")
    require(numFiles >= 1, "numFiles must be >= 1")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val files = readManifest(dir, prevV)
    val sizes = readSizes(dir, prevV)
      .fold(Map.empty[String, Long])(files.zip(_).toMap)
    require(files.forall(sizes.contains),
      s"version $prevV records no byte size for some files — " +
        "compactSmall plans from manifest sizes only (commit through " +
        "the current writers to record them)")
    val touched = files.filter(f => sizes(f) < smallBytes)
    if (touched.length < 2) return None
    val untouched = files.filterNot(touched.toSet)
    val v = prevV + 1
    val sub = f"data/v$v%05d"
    dataChange.withValue(false) {
      writeMaybePartitioned(dir, prevV,
        planReadLogical(spark, dir, prevV, touched)
          .repartition(numFiles), sub)
      Some(publish(spark, dir, prevV, v, untouched,
        listWritten(dir, sub), "compact", readSchema(dir, prevV)))
    }
  }

  /** TARGETED partition-spec repair: rewrite ONLY the files whose
    * recorded tuple carries the spec-evolution UNKNOWN marker,
    * re-splitting them by the CURRENT partition columns into
    * value-pure files with exact re-derived tuples; every known file
    * carries by reference. After repair the table is SPJ-eligible
    * again (the scan's all-files-keyed guard passes), metadata
    * partition DELETE can decide every file, and partition pruning is
    * exact everywhere — the surgical alternative to full-table
    * OPTIMIZE, which rewrites everything for a problem only the
    * pre-evolution slice has. Content-identical by construction and
    * stamped `dataChange:false` (rewrite-only maintenance — the
    * change feed skips it). Merge-on-read tombstones of the rewritten
    * files fold in ([[planReadLogical]] + [[publish]]'s carry).
    * Returns None (no commit) when nothing is unknown. */
  def repairPartitionSpec(spark: SparkSession, dir: String,
                          numFiles: Int = 1): Option[Int] = {
    require(numFiles >= 1, "numFiles must be >= 1")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val pcols = partitionColumns(dir, prevV)
    require(pcols.nonEmpty,
      s"repairPartitionSpec needs a partitioned table (v$prevV has " +
        "no partition columns)")
    val files = readManifest(dir, prevV)
    val pvals = readPartValues(dir, prevV).getOrElse(
      throw new IllegalStateException(
        s"version $prevV declares partition columns but records no values"))
    val touched = files.zip(pvals).collect {
      case (f, t) if t.exists(isUnknownPart) => f
    }
    if (touched.isEmpty) return None
    val untouched = files.filterNot(touched.toSet)
    val v = prevV + 1
    val sub = f"data/v$v%05d"
    dataChange.withValue(false) {
      writeMaybePartitioned(dir, prevV,
        planReadLogical(spark, dir, prevV, touched)
          .repartition(numFiles), sub)
      Some(publish(spark, dir, prevV, v, untouched,
        listWritten(dir, sub), "compact", readSchema(dir, prevV)))
    }
  }

  /** Retention: keep the newest `keep` versions, delete older manifests
    * and every data file ONLY they reference (an overwrite's orphaned
    * pre-image files, a compaction's replaced small files). Returns the
    * deleted data files.
    *
    * The retention GUARD: time travel INSIDE the horizon is never
    * broken — a file referenced by ANY retained manifest survives (the
    * `live` set), so every retained version stays exactly readable; and
    * `keep >= 1` refuses the vacuum that would drop the current
    * version. Readers BELOW the horizon fail LOUDLY with the vacuum
    * named ([[resolveVersion]]'s horizon message; a streaming source
    * positioned below it fails the same way in
    * [[graft.sources.SnapshotMicroBatchStream]]) — never a silent
    * partial scan.
    *
    * Small-manifest accumulation is the other chronic 100 TB failure
    * mode next to small files ([[compact]]): a daily-append table's log
    * grows one manifest per commit forever without this. */
  def vacuum(dir: String, keep: Int): Seq[String] = {
    require(keep >= 1,
      "vacuum must keep at least the current version (keep >= 1)")
    val vs = versions(dir)
    // TAGGED versions are pinned: a tag exists to make "the training
    // snapshot" reproducible, so retention must never eat it — the
    // retained set may be non-contiguous (every liveness sweep below
    // derives from the retained manifests, not from contiguity; a
    // change-feed read across the vacuumed gap refuses as always)
    val tagged = tags(dir).values.toSet
    val (dropCand, _) = vs.splitAt(math.max(0, vs.length - keep))
    val drop = dropCand.filterNot(tagged)
    val retain = vs.filterNot(drop.toSet)
    val live = retain.flatMap(readManifest(dir, _)).toSet
    val dead = (drop.flatMap(readManifest(dir, _)).toSet -- live).toSeq.sorted
    dead.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
    // positional-delete sidecars have the same liveness rule as data
    // files: referenced by any retained manifest -> survives
    val liveDels = retain.flatMap(readDeletes(dir, _)).toSet
    val deadDels = (drop.flatMap(readDeletes(dir, _)).toSet -- liveDels)
      .toSeq.sorted
    deadDels.foreach(f => Files.deleteIfExists(Paths.get(dir, f)))
    // ...and manifest SEGMENTS likewise (they live under _log, shared
    // across versions by reference)
    val liveSegs = retain.flatMap(readSegments(dir, _)).toSet
    (drop.flatMap(readSegments(dir, _)).toSet -- liveSegs).foreach(n =>
      Files.deleteIfExists(new File(logDir(dir), n).toPath))
    // change-feed sidecars follow their version's retention: a
    // vacuumed version can no longer anchor a feed read, so its
    // recorded changes go with it
    drop.foreach { v =>
      val d = new File(dir, f"_changes/v$v%05d")
      Option(d.listFiles()).getOrElse(Array.empty[File])
        .foreach(f => Files.deleteIfExists(f.toPath))
      if (d.isDirectory) d.delete(): Unit
    }
    drop.foreach(v => Files.delete(manifestFile(dir, v).toPath))
    dead
  }

  // ------------------------------------------------------------------
  // NAMED TAGS (Iceberg refs, the tag half): a tag pins a VERSION
  // under a stable name — "the v2.1 training snapshot" — readable via
  // `tagAsOf` and, critically, RETAINED: vacuum never drops a tagged
  // version, however old, until the tag is removed. Reproducibility
  // for 100-TB training runs costs one name in one small JSON file,
  // not a frozen copy of the table.
  // ------------------------------------------------------------------

  private def tagsFile(dir: String) = new File(logDir(dir), "tags.json")

  /** All tags: name -> pinned version. */
  def tags(dir: String): Map[String, Int] = {
    val f = tagsFile(dir)
    if (!f.exists()) Map.empty
    else LogCodec.decodeTags(new String(Files.readAllBytes(f.toPath), UTF_8))
  }

  private def writeTags(dir: String, m: Map[String, Int]): Unit = {
    val json = LogCodec.renderTags(m)
    val tmp = new File(logDir(dir),
      s".tags-${java.util.UUID.randomUUID().toString.take(8)}.tmp")
    Files.write(tmp.toPath, json.getBytes(UTF_8))
    Files.move(tmp.toPath, tagsFile(dir).toPath,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Pin `name` to version `v` (default: latest). Re-tagging an
    * existing name refuses loudly — a tag that silently moves defeats
    * the reproducibility it exists for; remove it first. */
  def tag(dir: String, name: String, v: Option[Int] = None): Int = {
    require(name.matches("[A-Za-z0-9._-]+"),
      s"tag '$name': use [A-Za-z0-9._-]+")
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val target = v.getOrElse(vs.last)
    require(vs.contains(target),
      s"tag '$name': version $target is not in the log (retained: " +
        s"${vs.mkString(", ")})")
    val cur = tags(dir)
    require(!cur.contains(name),
      s"tag '$name' already pins v${cur(name)} — removeTag first " +
        "(tags do not silently move)")
    writeTags(dir, cur + (name -> target))
    target
  }

  /** Drop a tag (the version becomes vacuumable again). Loud on an
    * unknown name — a typo must not read as success. */
  def removeTag(dir: String, name: String): Unit = {
    val cur = tags(dir)
    require(cur.contains(name),
      s"tag '$name' does not exist (have: " +
        s"${cur.keys.toSeq.sorted.mkString(", ")})")
    writeTags(dir, cur - name)
  }

  /** The version a tag pins; loud on an unknown name. */
  def resolveTag(dir: String, name: String): Int =
    tags(dir).getOrElse(name, throw new IllegalArgumentException(
      s"tag '$name' does not exist at $dir (have: " +
        s"${tags(dir).keys.toSeq.sorted.mkString(", ")})"))

  /** [[vacuum]] by AGE (`VACUUM ... RETAIN`): drops versions whose
    * recorded commit timestamp is <= `olderThanMillis`, always
    * retaining the current version (the latest commit IS the table —
    * age never vacuums it away). Versions predating timestamped
    * manifests count as old. Returns the deleted data files. */
  def vacuumOlderThan(dir: String, olderThanMillis: Long): Seq[String] = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val fresh = vs.count(v =>
      commitTimestamp(dir, v).exists(_ > olderThanMillis))
    vacuum(dir, math.max(fresh, 1))
  }

  /** Table HISTORY (Delta's `DESCRIBE HISTORY`): one row per retained
    * version, newest first — (version, action, commit ts millis or -1
    * on a pre-timestamp manifest, file count, recorded row count or -1
    * when the manifest predates row counts). Answered entirely from
    * manifest bytes — at 100 TB the audit trail costs the log, never
    * the data. */
  def history(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    vs.reverse.map { v =>
      (v.toLong, readAction(dir, v),
        commitTimestamp(dir, v).getOrElse(-1L),
        readManifest(dir, v).length.toLong,
        manifestCount(dir, v).getOrElse(-1L))
    }.toDF("version", "action", "ts_millis", "n_files", "n_rows")
  }

  /** SHOW PARTITIONS, answered from MANIFEST BYTES (zero data IO —
    * at 100 TB the partition inventory costs the log, never the data):
    * one (partition, n_files, n_rows) tuple per recorded partition
    * value at `asOf`, rendered hive-style `c=v[/c2=v2]` with NULL as
    * `__NULL__`; n_rows is -1 when the manifest predates row counts
    * (decline, never estimate). Refuses unpartitioned tables loudly —
    * an empty inventory would read as "no data". */
  def partitionSummary(dir: String, asOf: Option[Int] = None)
      : Seq[(String, Long, Long)] = {
    val v = resolveVersion(dir, asOf)
    val pcols = partitionColumns(dir, v)
    require(pcols.nonEmpty, s"table at $dir is not partitioned")
    val files = readManifest(dir, v)
    val pvals = readPartValues(dir, v).getOrElse(
      throw new IllegalStateException(
        s"version $v declares partition columns but records no values"))
    val rows = readRows(dir, v)
    files.indices.groupBy(pvals(_)).toSeq.map { case (tuple, idxs) =>
      val render = pcols.zip(tuple).map { case (c, t) =>
        if (isUnknownPart(t)) s"$c=__UNKNOWN__" // pre-evolution files
        else s"$c=${t.getOrElse("__NULL__")}"
      }.mkString("/")
      (render, idxs.length.toLong,
        rows.fold(-1L)(rs => idxs.map(rs(_)).sum))
    }.sortBy(_._1)
  }

  /** [[partitionSummary]] as a DataFrame —
    * (partition, n_files, n_rows). */
  def partitions(spark: SparkSession, dir: String,
                 asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    partitionSummary(dir, asOf).toDF("partition", "n_files", "n_rows")
  }

  // ------------------------------------------------------------------
  // CHANGE-DATA-FEED (Delta's CDF, Iceberg's changelog): row-level
  // changes per commit. Appends and metadata partition deletes need no
  // extra storage — the log already knows the added/dropped files and
  // immutable files ARE their rows. Only the CoW rewrites (DELETE/
  // UPDATE/MERGE) are ambiguous at the file level, so exactly those
  // persist a `_changes/vNNNNN` sidecar at commit time (opt-in via
  // [[enableChangeFeed]] — the sidecar costs one extra pass over only
  // the touched files). At 100 TB the feed turns "recompute downstream
  // aggregates from scratch" into "apply this commit's delta".
  //
  // CONTRACT NOTE: SQL UPDATE/MERGE lower through Spark's group-based
  // row-level rewrite, whose write sees only the replacement rows.
  // Their sidecar is derived at commit as the NET multiset diff of
  // scanned-vs-staged rows ([[graft.sources.SnapshotReplaceGroupsWrite]]):
  // SQL UPDATE feeds exact update_pre/postimages (net of
  // value-preserving pairs), SQL MERGE feeds 'delete'/'insert' pairs —
  // the same +/- algebra, but unpaired (the ON keys never reach the
  // write). When per-key pre/post pairing matters, use this API tier;
  // SQL DELETE routes through the sidecar-recording delete or the
  // metadata path either way. A map-typed schema (no set ops) records
  // no SQL-path sidecar and keeps the refuse-at-read contract.
  // ------------------------------------------------------------------

  /** Opt this table into recording DML change sidecars (marker file;
    * takes effect for commits AFTER the call — earlier DML versions
    * have no sidecar and the feed refuses them loudly). */
  def enableChangeFeed(dir: String): Unit = {
    logDir(dir).mkdirs()
    java.nio.file.Files.write(new File(logDir(dir), "_cdf").toPath,
      Array.emptyByteArray): Unit
  }

  def changeFeedEnabled(dir: String): Boolean =
    new File(logDir(dir), "_cdf").exists()

  /** Persist a DML commit's row-level changes (table columns +
    * `_change_type`) under the version's sidecar directory. Written
    * BEFORE the manifest rename — an aborted commit leaves at worst an
    * orphan sidecar for a version that never published, which the next
    * attempt overwrites. An all-empty change set still materializes a
    * zero-row anchor file: "this version recorded NO changes" must stay
    * distinguishable from "this version recorded no sidecar" (the feed
    * refuses the latter), and Spark writes no part files for a
    * shuffled-empty frame. */
  private[graft] def writeChanges(df: DataFrame, dir: String,
                                  v: Int): Unit = {
    val out = f"$dir/_changes/v$v%05d"
    df.write.mode("overwrite").parquet(out)
    if (!Option(new File(out).listFiles()).getOrElse(Array.empty[File])
        .exists(_.getName.endsWith(".parquet")))
      df.limit(0).repartition(1).write.mode("append").parquet(out)
  }

  /** The sidecar parquet files of version `v` (absolute paths; empty
    * when the version recorded none). */
  private[graft] def changeFiles(dir: String, v: Int): Seq[String] = {
    val d = new File(dir, f"_changes/v$v%05d")
    Option(d.listFiles()).getOrElse(Array.empty[File])
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSeq.sorted
  }

  /** The row-level CHANGE FEED of versions `[startingVersion,
    * endingVersion]` (default: through latest): table columns +
    * `_change_type` ('insert' | 'delete' | 'update_preimage' |
    * 'update_postimage') + `_commit_version`. Appends feed their added
    * files as inserts, metadata partition deletes feed the dropped
    * files as deletes, CoW DML feeds its recorded sidecar, and
    * compaction feeds nothing (no logical change). A DML version
    * without a sidecar — or an overwrite/restore, whose row-level
    * delta is not derivable — refuses loudly rather than emit a wrong
    * feed. */
  def readChangeFeed(spark: SparkSession, dir: String,
                     startingVersion: Int,
                     endingVersion: Option[Int] = None): DataFrame = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val hi = endingVersion.getOrElse(vs.last)
    val range = vs.filter(v => v >= startingVersion && v <= hi)
    require(range.nonEmpty,
      s"no versions in [$startingVersion, $hi] at $dir")
    // a feed crossing a RENAME surfaces every version under the END
    // version's names — positions are stable (field id = position),
    // so each version's frame renames positionally; its own trailing
    // _change_type/_commit_version stay put, and columns ADDED inside
    // the range still null-fill through unionByName
    val endNames = readSchema(dir, range.last).map(_.fieldNames.toSeq)
    range.map { v =>
      val df = changesOf(spark, dir, v)
      endNames.fold(df) { en =>
        val cols = df.columns.toSeq
        val dataN = cols.length - 2 // ct + _commit_version trail
        df.toDF(cols.zipWithIndex.map { case (c, i) =>
          if (i < dataN && i < en.length) en(i) else c }: _*)
      }
    }.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def changesOf(spark: SparkSession, dir: String,
                        v: Int): DataFrame = {
    import org.apache.spark.sql.functions._
    val ct = "_change_type"
    // per-version classification lives in ONE place —
    // [[graft.sources.SnapshotCdf.partitions]] (shared with the
    // streaming source and the SQL view path); this batch API only
    // assembles its file lists into a DataFrame, so the three read
    // paths cannot drift on what a version feeds
    val parts = graft.sources.SnapshotCdf.partitions(dir, v)
    val namesAtV = readSchema(dir, v).map(_.fieldNames.toSeq)
    val changes =
      if (parts.isEmpty)
        planRead(spark, dir, v, readManifest(dir, v)).where(lit(false))
          .withColumn(ct, lit("insert"))
      else {
        val (sidecars, consts) = parts.partition(_.changeType.isEmpty)
        val sidecarDf =
          if (sidecars.isEmpty) Nil
          else {
            // sidecars were written at v under v's names; pin the
            // column ORDER to v's schema so the cross-version
            // positional rename in [[readChangeFeed]] stays sound
            val raw = spark.read.parquet(sidecars.map(_.path): _*)
            Seq(namesAtV.fold(raw)(ns =>
              raw.select((ns :+ ct).map(col): _*)))
          }
        val constDfs = consts.groupBy(_.changeType.get).toSeq
          .sortBy(_._1).map { case (t, ps) =>
            // constant-type partitions read DATA files: appends feed
            // files written at v (open epoch), metadata deletes feed
            // files DROPPED at v — members of v-1 possibly written
            // epochs ago; the epoch-aware legs read each under its
            // written names
            val rel = ps.map(_.path.stripPrefix(s"$dir/"))
            val vRef = if (t == "delete") v - 1 else v
            planReadLegs(spark, dir, vRef, rel)(identity)
              .withColumn(ct, lit(t))
          }
        (sidecarDf ++ constDfs).reduce(_.unionByName(_))
      }
    changes.withColumn("_commit_version", lit(v.toLong))
  }

  // ------------------------------------------------------------------
  // MERGE-ON-READ DML (Iceberg positional deletes / Delta deletion
  // vectors): copy-on-write rewrites each touched file IN FULL — at
  // 100 TB a point delete touching one row per file rewrites the whole
  // file set. A table opted in via [[enableMergeOnRead]] instead
  // commits a DELETE SIDECAR of (file, pos) rows under
  // `deletes/vNNNNN/`; scans apply it as a broadcast anti-join on ONLY
  // the dirty files ([[planReadLogical]] / the DSv2 dirty-file
  // reader), and any rewrite that touches a dirty file — compaction,
  // OPTIMIZE, a CoW pass — folds its deletes back into clean files
  // ([[publish]]'s carry rule). UPDATE/MERGE = one positional delete
  // of the matched rows + one append of their rebuilt rows: write cost
  // proportional to the CHANGED rows, not the touched files.
  // ------------------------------------------------------------------

  /** Opt this table into merge-on-read DML (marker file; the API
    * delete/update/merge routes positional from the next call on;
    * existing versions and the SQL row-level verbs stay copy-on-write
    * — mixing modes is safe, the manifest records which files carry
    * deletes). */
  def enableMergeOnRead(dir: String): Unit = {
    logDir(dir).mkdirs()
    java.nio.file.Files.write(new File(logDir(dir), "_mor").toPath,
      Array.emptyByteArray): Unit
  }

  def mergeOnRead(dir: String): Boolean =
    new File(logDir(dir), "_mor").exists()

  /** Stage the matched rows' (file, pos) identities as version `v`'s
    * delete sidecar; returns (sidecar files, newly-dirty data files,
    * deleted-row count). The dirty list derives from the sidecar
    * itself (distinct file values — bounded by the file count) and is
    * validated against the manifest: a rel-path derivation mismatch
    * must fail the commit loudly, never record an unprunable name. */
  private def stageDeleteSidecar(spark: SparkSession, dir: String,
                                 files: Seq[String], v: Int,
                                 matched: DataFrame)
      : (Seq[String], Seq[String], Long) = {
    import org.apache.spark.sql.functions._
    val delSub = f"deletes/v$v%05d"
    matched.select(col("__graft_rel").as("file"),
        col("__graft_pos").as("pos"))
      .write.mode("overwrite").parquet(s"$dir/$delSub")
    val written = listWritten(dir, delSub)
    val byFile = spark.read.parquet(s"$dir/$delSub")
      .groupBy("file").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    if (byFile.isEmpty) {
      // matched nothing: un-stage the empty sidecar (the no-op commit
      // will never reference it — an orphan would dodge vacuum's
      // manifest-driven liveness forever)
      def rm(f: File): Unit = {
        Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
        Files.deleteIfExists(f.toPath): Unit
      }
      rm(new File(dir, delSub))
      return (Nil, Nil, 0L)
    }
    val fileSet = files.toSet
    byFile.foreach { case (f, _) => require(fileSet.contains(f),
      s"positional delete resolved to '$f', which is not in manifest " +
        s"v${v - 1} — scan-path decoding and the manifest disagree") }
    (written, byFile.map(_._1).toSeq.sorted, byFile.map(_._2).sum)
  }

  /** Merge-on-read DELETE: matched rows are tombstoned by position —
    * zero data files rewritten. Publishes a normal commit whose file
    * list is UNCHANGED; only the sidecar/dirty/ndel metadata moves. */
  private def morDelete(spark: SparkSession, dir: String,
                        predicate: Column): Int = {
    import org.apache.spark.sql.functions._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val files = readManifest(dir, prevV)
    val v = prevV + 1
    val matched = planReadRowId(spark, dir, prevV, files).where(predicate)
    val (sidecar, touched, n) =
      stageDeleteSidecar(spark, dir, files, v, matched)
    if (touched.isEmpty)
      // match-nothing delete: metadata no-op commit (CoW convention)
      return publish(spark, dir, prevV, v, files, Nil, "delete",
        readSchema(dir, prevV))
    // tombstoning the last live row refuses like the CoW empty-table
    // guard (use an overwrite commit to empty a table); decidable only
    // when row counts are recorded — decline-never-guess otherwise
    readRows(dir, prevV).foreach { rs =>
      require(readNdel(dir, prevV) + n < rs.sum,
        s"delete would tombstone every row at $dir; use an overwrite " +
          "commit")
    }
    if (changeFeedEnabled(dir))
      writeChanges(matched.drop("__graft_rel", "__graft_pos")
        .withColumn("_change_type", lit("delete")), dir, v)
    publish(spark, dir, prevV, v, files, Nil, "delete",
      readSchema(dir, prevV), newDels = sidecar, newDirty = touched)
  }

  /** Merge-on-read UPDATE: the matched rows tombstone by position and
    * their rebuilt images append as new files — write cost is the
    * CHANGED rows, not the touched files (the CoW pain point at
    * 100 TB). Same assignment validation as [[update]]. */
  private def morUpdate(spark: SparkSession, dir: String,
                        predicate: Column,
                        assignments: Map[String, Column]): Int = {
    import org.apache.spark.sql.functions._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val files = readManifest(dir, prevV)
    val v = prevV + 1
    val schema = readSchema(dir, prevV)
    val matched = planReadRowId(spark, dir, prevV, files)
      .where(predicate)
    val dataCols = matched.columns
      .filterNot(c => c == "__graft_rel" || c == "__graft_pos").toSeq
    assignments.keys.foreach { c =>
      require(dataCols.contains(c),
        s"UPDATE assigns unknown column '$c' (have ${dataCols.mkString(",")})")
    }
    val old = matched.select(dataCols.map(col): _*)
    val rebuilt = old.select(dataCols.map { c =>
      assignments.get(c).map(_.as(c)).getOrElse(col(c))
    }: _*)
    old.schema.fields.zip(rebuilt.schema.fields).foreach { case (a, b) =>
      require(a.dataType.simpleString == b.dataType.simpleString,
        s"UPDATE may not change '${a.name}' from " +
          s"${a.dataType.simpleString} to ${b.dataType.simpleString}")
    }
    val (sidecar, touched, _) =
      stageDeleteSidecar(spark, dir, files, v, matched)
    if (touched.isEmpty)
      return publish(spark, dir, prevV, v, files, Nil, "update", schema)
    val sub = f"data/v$v%05d"
    writeMaybePartitioned(dir, prevV, rebuilt, sub)
    val written = listWritten(dir, sub)
    if (changeFeedEnabled(dir))
      writeChanges(old.withColumn("_change_type", lit("update_preimage"))
        .unionByName(rebuilt.withColumn("_change_type",
          lit("update_postimage"))), dir, v)
    publish(spark, dir, prevV, v, files, written, "update", schema,
      newDels = sidecar, newDirty = touched)
  }

  /** Merge-on-read MERGE: matched base rows tombstone by position, the
    * upserted images (matched keys coalesced column-wise with the
    * source, unmatched source keys inserted) append as new files. Same
    * source validation and stats-envelope candidate pruning as
    * [[merge]]. */
  private def morMerge(spark: SparkSession, dir: String,
                       source: DataFrame, keys: Seq[String]): Int = {
    import org.apache.spark.sql.functions._
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val files = readManifest(dir, prevV)
    val schema = readSchema(dir, prevV)
    val full = planReadLogical(spark, dir, prevV, files)
    require(source.columns.sorted.sameElements(full.columns.sorted),
      s"merge source columns ${source.columns.sorted.mkString(",")} != " +
        s"table columns ${full.columns.sorted.mkString(",")}")
    val src = source.select(full.columns.map(col): _*)
    val dupKeys = src.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("_n")).where(col("_n") > 1).limit(1).count()
    require(dupKeys == 0,
      s"merge source has duplicate keys on (${keys.mkString(",")})")
    val keyRows = src.select(keys.map(col): _*).distinct()
    val statsKeys =
      if (files.length < 16) Nil
      else keys.filter(statsColumns(dir, prevV).contains)
    val candidates: Seq[String] =
      if (statsKeys.isEmpty) files
      else {
        val aggs = statsKeys.flatMap(k => Seq(
          min(col(k)).cast("long").as(s"mn_$k"),
          max(col(k)).cast("long").as(s"mx_$k")))
        val env = src.agg(aggs.head, aggs.tail: _*).head()
        val bounds = statsKeys.zipWithIndex.flatMap { case (k, i) =>
          if (env.isNullAt(2 * i)) None
          else Some(k -> ((env.getLong(2 * i), env.getLong(2 * i + 1))))
        }.toMap
        manifestFilesPruned(dir, prevV, bounds)
      }
    val v = prevV + 1
    val dataCols = full.columns.toSeq
    val matched =
      (if (candidates.isEmpty) planReadRowId(spark, dir, prevV, files)
          .where(lit(false))
       else planReadRowId(spark, dir, prevV, candidates))
        .join(broadcast(keyRows), keys, "left_semi")
    val matchedData = matched.select(dataCols.map(col): _*)
    val (sidecar, touched, _) =
      stageDeleteSidecar(spark, dir, files, v, matched)
    val upserted = graft.ops.Merge.upsert(matchedData, src, keys)
      .select(dataCols.map(col): _*)
    val sub = f"data/v$v%05d"
    writeMaybePartitioned(dir, prevV, upserted, sub)
    val written = listWritten(dir, sub)
    if (changeFeedEnabled(dir)) {
      val ct = "_change_type"
      val touchedKeys = matchedData.select(keys.map(col): _*).distinct()
      val pre = matchedData.withColumn(ct, lit("update_preimage"))
      val post = graft.ops.Merge.upsert(matchedData,
          src.join(touchedKeys, keys, "left_semi"), keys)
        .select(dataCols.map(col): _*)
        .withColumn(ct, lit("update_postimage"))
      val ins = src.join(touchedKeys, keys, "left_anti")
        .withColumn(ct, lit("insert"))
      writeChanges(pre.unionByName(post).unionByName(ins), dir, v)
    }
    publish(spark, dir, prevV, v, files, written, "merge", schema,
      newDels = sidecar, newDirty = touched)
  }

  /** RESTORE to version `v` (Delta's `RESTORE TABLE ... TO VERSION AS
    * OF`): publishes a NEW commit whose content is exactly `v`'s.
    * Metadata-only — the manifest re-references `v`'s immutable data
    * files (with their recorded stats and schema), so rolling a 100 TB
    * table back from a bad write costs one manifest write, zero data
    * movement, and [[vacuum]]'s liveness scan protects the
    * re-referenced files for as long as the restore commit is retained.
    * Roll-FORWARD semantics: the bad version stays in history (still
    * time-travelable, still diffable — the incident record) until
    * retention drops it; nothing is ever rewritten in place. Refuses an
    * unknown or already-vacuumed `v` loudly. Returns the new version. */
  def restore(dir: String, v: Int): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    require(vs.contains(v),
      s"RESTORE: version $v is not in the log at $dir (retained: " +
        s"${vs.mkString(", ")}) — vacuumed or never committed")
    val next = vs.last + 1
    // restore re-references v's files verbatim — every per-file tier,
    // its merge-on-read state, its epoch state (including pre-rename
    // names) and its transform spec carry with them
    publishManifest(dir, next, s"overwrite@restore$v",
      probeTiers(dir, manifest(dir, v)))
    next
  }

  /** RENAME a column WITHOUT rewriting a single data byte (Iceberg's
    * field-id rename, flattened onto this log's add-column-only
    * invariant: a column's SCHEMA POSITION is its stable field id —
    * evolution only appends, so positions never shift). The commit is
    * metadata-only: the open rename epoch CLOSES (its full name list
    * joins the manifest's `epochs` table), every carried file keeps
    * the epoch it was written under, and the table schema plus every
    * column-keyed metadata tier — min/max stats, null counts,
    * partition columns — moves to the new name, so stats pruning and
    * partition pruning on the NEW name serve OLD files immediately.
    * Reads resolve each file's physical column names by position
    * through its epoch ([[planReadLegs]] / the DSv2 per-file name
    * remap); time travel below this version shows the old name (each
    * version keeps ITS schema). dataChange=false — the change feed
    * skips it, and the streaming source feeds straight across it
    * (positions are stable, so a running stream keeps its
    * start-schema names). Writers from this version on must use the
    * new name; a frame still carrying the old name ADDS a fresh
    * column under add-only evolution — the Delta/Iceberg contract.
    * Bloom sidecars are name-pinned per version: probes on the new
    * name decline until the index is rebuilt (skipping is an
    * optimization tier, never correctness). */
  def renameColumn(dir: String, from: String, to: String): Int = {
    val vs = versions(dir)
    require(vs.nonEmpty, s"no snapshot log at $dir")
    val prevV = vs.last
    val schema = readSchema(dir, prevV).getOrElse(
      throw new IllegalArgumentException(
        s"version $prevV of $dir records no schema — a pre-schema " +
          "legacy log cannot resolve renames by position"))
    require(schema.fieldNames.contains(from),
      s"RENAME COLUMN: '$from' is not in the schema " +
        s"(${schema.fieldNames.mkString(",")})")
    require(!schema.fieldNames.contains(to),
      s"RENAME COLUMN: '$to' already exists")
    require(to.matches("[A-Za-z_][A-Za-z0-9_]*"),
      s"RENAME COLUMN: '$to' is not a valid column name")
    val m = manifest(dir, prevV)
    // files of the (now closing) open epoch were recorded with index
    // eps.length — after the close that index denotes the same name
    // list, so recorded values carry verbatim; a never-renamed table
    // has no recorded sepoch and every file is epoch 0
    val sep =
      if (m.epochs.isEmpty) m.files.map(_ => 0) else readSepoch(dir, prevV)
    val ren = (n: String) => if (n == from) to else n
    val newSchema = StructType(schema.fields.map(f =>
      if (f.name == from) f.copy(name = to) else f))
    dataChange.withValue(false) {
      publishManifest(dir, prevV + 1, "rename", probeTiers(dir, m.copy(
        stats = m.stats.map { case (c, mm) => (ren(c), mm) },
        nulls = m.nulls.map { case (c, ns) => (ren(c), ns) },
        pcols = m.pcols.map(ren),
        epochs = m.epochs :+ schema.fieldNames.toSeq, sepoch = Some(sep),
        schema = Some(newSchema))))
    }
    prevV + 1
  }

  /** Row-level change set between two versions, keyed by `idCol`:
    * (id, change ∈ added|removed). Two anti-joins — each one shuffle on
    * the key; at scale the common-prefix files of an append diff could
    * be skipped entirely by comparing manifests first (the metadata
    * shortcut a production implementation layers on this same log). */
  def diff(spark: SparkSession, dir: String, fromV: Int, toV: Int,
           idCol: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val a = readSnapshot(spark, dir, Some(fromV)).select(col(idCol))
    val b = readSnapshot(spark, dir, Some(toV)).select(col(idCol))
    b.join(a, Seq(idCol), "left_anti").select(col(idCol),
        lit("added").as("change"))
      .union(a.join(b, Seq(idCol), "left_anti").select(col(idCol),
        lit("removed").as("change")))
  }
}
