package graft.io

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.Base64

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-FILE Bloom indexes over a [[SnapshotTable]] column — the
  * point-lookup complement of the manifest's min/max stats (the q154
  * range-skipping tier): min/max prunes RANGE scans but is useless for
  * a needle key in an unsorted table; a per-file Bloom answers
  * "definitely not in this file" for equality predicates, so a point
  * lookup on a 10^6-file table plans a handful of files instead of a
  * full scan. This is the Delta-Lake-style bloom-filter index; like
  * there, the index lives in SIDECAR files next to the log
  * (`_log/bloom_<col>_v%05d.json`), so the battle-tested manifest
  * format and commit protocol are untouched and an index can be added
  * to (or dropped from) an existing table at any version.
  *
  * Build: ONE pass over the version's files —
  * `groupBy(input_file_name)` into Spark's own mergeable
  * `BloomFilterAggregate` (the runtime-join-filter machinery, hashing
  * with `xxhash64`), ≤files rows collected (the index, not the data).
  * Lookup: the sidecar's Blooms are probed DRIVER-SIDE with the same
  * xxhash64 (file pruning is a planning decision, exactly like the
  * manifest-stats read), then only surviving files are scanned with
  * the row-level predicate — Bloom false positives cost a file scan,
  * never a wrong row. */
object SnapshotBloom {

  private def sidecar(dir: String, col: String, v: Int): File =
    new File(new File(dir, "_log"), f"bloom_${col}_v$v%05d.json")

  private def xx(value: Long): Long =
    org.apache.spark.sql.catalyst.expressions.XxHash64(
      Seq(org.apache.spark.sql.catalyst.expressions.Literal(value)),
      42L) // the xxhash64 SQL function's fixed seed
      .eval(null).asInstanceOf[Long]

  /** Build (or rebuild) the index for `col` at `asOf` (default: latest
    * version). One scan pass; the sidecar maps each manifest file to a
    * base64 Bloom sized for its row count at `fpp`. */
  def buildIndex(spark: SparkSession, dir: String, col: String,
                 fpp: Double = 0.01, asOf: Option[Int] = None,
                 expectedItemsPerFile: Long = 1000000L): Int = {
    val v = asOf.getOrElse(SnapshotTable.versions(dir).last)
    val files = SnapshotTable.readManifest(dir, v)
    val agg = org.apache.spark.sql.graft.ColumnBridge.column(
      org.apache.spark.sql.catalyst.expressions.aggregate
        .BloomFilterAggregate(
          org.apache.spark.sql.graft.ColumnBridge.expression(
            xxhash64(org.apache.spark.sql.functions.col(col))),
          org.apache.spark.sql.graft.ColumnBridge.expression(
            lit(expectedItemsPerFile)),
          org.apache.spark.sql.graft.ColumnBridge.expression(
            lit(BloomFilter.optimalNumOfBits(expectedItemsPerFile, fpp))),
          0, 0)
        .toAggregateExpression())
    val perFile = SnapshotTable.planRead(spark, dir, v, files)
      .groupBy(input_file_name().as("f"))
      .agg(agg.as("bloom"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Array[Byte]](1)))
    // input_file_name is an absolute URI; manifest paths are
    // table-root-relative (`data/v<n>/part-*.parquet`). Match on the
    // NORMALIZED relative path — a bare suffix match could mis-assign a
    // bloom when one manifest path is a string suffix of another file's
    // absolute path.
    val root = new File(dir).getCanonicalPath.stripSuffix("/") + "/"
    val byRel: Map[String, Array[Byte]] = perFile.flatMap { case (abs, b) =>
      val p = try new java.net.URI(abs).getPath catch {
        case _: Exception => abs
      }
      val canon = new File(p).getCanonicalPath
      if (canon.startsWith(root)) Some(canon.stripPrefix(root) -> b)
      else None
    }.toMap
    // A systematic mismatch (rows aggregated but nothing maps into the
    // table root) is a bug — fail loudly rather than write an index that
    // prunes everything.
    if (perFile.nonEmpty && byRel.isEmpty) throw new IllegalStateException(
      s"bloom build: no aggregated file path resolves under $root " +
        s"(first: ${perFile.head._1})")
    // A manifest file MISSING from the aggregate is legitimate ONLY if
    // it is genuinely zero-row: Spark can write empty part files, and
    // groupBy(input_file_name) emits no row for them — their correct
    // index entry is an EMPTY bloom (mightContain always false → always
    // pruned; an empty file can't contain the needle). But the same
    // absence also results from a PATH-CANONICALIZATION miss (symlinked
    // roots, odd URIs), and an empty bloom there silently drops every
    // lookup into that file's rows. Disambiguate with ground truth: the
    // parquet footer's record count. Non-empty unmatched file → loud
    // failure (the pre-round-10 behavior), never a silently-wrong index.
    lazy val emptyBloom: String = {
      val bos = new java.io.ByteArrayOutputStream()
      BloomFilter.create(1, fpp).writeTo(bos)
      Base64.getEncoder.encodeToString(bos.toByteArray)
    }
    def footerRows(rel: String): Long = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(s"$dir/$rel"),
          new org.apache.hadoop.conf.Configuration()))
      try r.getRecordCount finally r.close()
    }
    val blooms = files.map { mf =>
      byRel.get(mf).map(Base64.getEncoder.encodeToString).getOrElse {
        val n = footerRows(mf)
        if (n != 0L) throw new IllegalStateException(
          s"bloom build: $mf holds $n rows but no aggregated bloom " +
            s"mapped onto it — path canonicalization mismatch under $root")
        emptyBloom
      }
    }
    Files.write(sidecar(dir, col, v).toPath,
      LogCodec.renderBloom(col, files, blooms).getBytes(UTF_8))
    v
  }

  private def readIndex(dir: String, col: String,
                        v: Int): Option[Seq[(String, BloomFilter)]] = {
    val f = sidecar(dir, col, v)
    if (!f.exists()) None
    else Some(LogCodec.decodeBloom(
      new String(Files.readAllBytes(f.toPath), UTF_8)).map { case (mf, b) =>
        mf -> BloomFilter.readFrom(Base64.getDecoder.decode(b)) })
  }

  /** The manifest files that MIGHT contain `value` — the planning
    * decision, exposed for audits/specs. Falls back to all files when
    * no index exists at the version (skipping never filters rows). */
  def candidateFiles(dir: String, col: String, value: Long,
                     asOf: Option[Int] = None): Seq[String] = {
    val v = asOf.getOrElse(SnapshotTable.versions(dir).last)
    readIndex(dir, col, v) match {
      case Some(idx) =>
        val h = xx(value)
        idx.collect { case (f, b) if b.mightContainLong(h) => f }
      case None => SnapshotTable.readManifest(dir, v)
    }
  }

  /** Point lookup `col = value`: plan only the Bloom-surviving files,
    * then the exact row predicate. */
  def pointLookup(spark: SparkSession, dir: String, col: String,
                  value: Long, asOf: Option[Int] = None): DataFrame = {
    val v = asOf.getOrElse(SnapshotTable.versions(dir).last)
    val kept = candidateFiles(dir, col, value, Some(v))
    if (kept.isEmpty)
      SnapshotTable.readSnapshot(spark, dir, Some(v)).where(lit(false))
    else SnapshotTable.planRead(spark, dir, v, kept)
      .where(org.apache.spark.sql.functions.col(col) === value)
  }
}
