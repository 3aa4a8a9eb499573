package graft.io

import java.nio.file.Files

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Values the manifest grammar must carry verbatim: partition values
  * holding `,` `"` `]` `\` and non-ASCII text (Spark leaves `,` and
  * non-ASCII unescaped in partition paths, so they reach the manifest's
  * file list raw), and stats/partition COLUMN names holding `,` and
  * `"`. Every commit path, segmented assembly, compaction, time travel,
  * the DSv2 source and the Bloom sidecar must read them back exactly. */
class SnapshotSpecialValuesSpec extends SparkSpec {
  import spark.implicits._

  private val pc = "so,ur\"ce"   // partition column
  private val sc = "n,\"x"       // extra stats column
  private val values = Seq("a,b", "q\"uote", "br]ack[et", "back\\slash",
    "ünï©ødé,日本", "plain")

  /** ids [lo, hi), one partition value per id (cycling), `sc` = id*10. */
  private def rows(lo: Long, hi: Long): Seq[(Long, Long, String)] =
    (lo until hi).map(i => (i, i * 10, values((i % values.length).toInt)))

  private def frame(rs: Seq[(Long, Long, String)]) =
    rs.toDF("id", sc, pc)

  private def asRows(rs: Seq[(Long, Long, String)]): Set[Row] =
    rs.map { case (i, n, s) => Row(i, n, s) }.toSet

  private def collectSet(df: org.apache.spark.sql.DataFrame): Set[Row] =
    df.select(col("id"), col(s"`$sc`"), col(s"`$pc`")).collect().toSet

  test("partition values and column names with , \" ] \\ and non-ASCII " +
    "round-trip through commit, segmented append, compaction, time " +
    "travel, the DSv2 source and the tags file") {
    val root = Files.createTempDirectory("snap-special").toString
    val dir = s"$root/t"
    val st = SnapshotTable
    val v1Rows = rows(0L, 30L)
    val v2Rows = rows(30L, 48L)
    var tick = 0L
    st.clock.withValue(() => { tick += 1000L; tick }) {
      st.commitPartitioned(spark, frame(v1Rows), dir, Seq(pc),
        statsCols = Seq("id", sc))
      // a regex reader split the file list at the `,` inside a path
      assert(collectSet(st.readSnapshot(spark, dir)) == asRows(v1Rows))
      st.commitPartitioned(spark, frame(v2Rows), dir, Seq(pc),
        statsCols = Seq("id", sc))
      st.compact(spark, dir, 2): Unit
    }
    // v2 is a segmented append, v3 the (dataChange=false) compaction
    assert(st.readSegments(dir, 2).nonEmpty)
    assert(!st.isDataChange(dir, 3))
    // the file list, partition tuples and per-file tiers stay aligned
    (1 to 3).foreach { v =>
      val files = st.manifestFiles(dir, v)
      assert(files.forall(f => new java.io.File(dir, f).isFile), files)
      assert(st.readPartValues(dir, v).get.length == files.length)
      assert(st.readRows(dir, v).get.length == files.length)
      assert(st.readSizes(dir, v).get.length == files.length)
      assert(st.partitionColumns(dir, v) == Seq(pc))
      assert(st.statsColumns(dir, v) == Seq("id", sc))
      assert(st.readNullCounts(dir, v).keySet == Set("id", sc))
      assert(st.readPartValues(dir, v).get.flatten.flatten.toSet ==
        values.toSet)
    }
    assert(st.manifestFiles(dir, 1).exists(_.contains(",")))
    val all = asRows(v1Rows ++ v2Rows)
    assert(collectSet(st.readSnapshot(spark, dir, Some(1))) == asRows(v1Rows))
    assert(collectSet(st.readSnapshot(spark, dir, Some(2))) == all)
    assert(collectSet(st.readSnapshot(spark, dir)) == all)
    assert(st.manifestCount(dir, 3).contains(48L))
    assert(st.manifestMinMaxAll(dir, 3) ==
      Map("id" -> ((0L, 47L)), sc -> ((0L, 470L))))
    // partition pruning on each awkward value is exact
    values.foreach { p =>
      assert(collectSet(st.readSnapshotPartitioned(spark, dir, Map(pc -> p)))
        == asRows((v1Rows ++ v2Rows).filter(_._3 == p)), p)
    }
    // stats pruning on the awkwardly named column
    assert(collectSet(st.readSnapshotPrunedMulti(spark, dir,
      Map(sc -> ((100L, 150L))))) ==
      asRows((v1Rows ++ v2Rows).filter(r => r._2 >= 100L && r._2 <= 150L)))

    // the DSv2 source: latest, versionAsOf, partition and stats filters
    def dsv2 = spark.read.format("graft.sources.SnapshotSource")
    assert(collectSet(dsv2.load(dir)) == all)
    assert(collectSet(dsv2.option("versionAsOf", 1).load(dir)) ==
      asRows(v1Rows))
    assert(collectSet(dsv2.load(dir).where(col(s"`$pc`") === "a,b")) ==
      asRows((v1Rows ++ v2Rows).filter(_._3 == "a,b")))
    assert(dsv2.load(dir).where(col(s"`$sc`") > 400L).count() == 7L)

    // SQL time travel through the catalog
    spark.conf.set("spark.sql.catalog.speccat",
      "graft.sources.SnapshotCatalog")
    spark.conf.set("spark.sql.catalog.speccat.root", root)
    def sqlRows(q: String): Set[Row] = collectSet(spark.sql(q))
    assert(sqlRows("SELECT * FROM speccat.t VERSION AS OF 1") ==
      asRows(v1Rows))
    assert(sqlRows("SELECT * FROM speccat.t VERSION AS OF 3") == all)
    assert(sqlRows("SELECT * FROM speccat.t TIMESTAMP AS OF " +
      "'1970-01-01 00:00:01.500'") == asRows(v1Rows))
    assert(sqlRows("SELECT * FROM speccat.t TIMESTAMP AS OF " +
      "'1970-01-01 00:00:02.500'") == all)

    // tags.json through the same codec
    st.tag(dir, "release-1.0", Some(1))
    st.tag(dir, "z_latest")
    assert(st.tags(dir) == Map("release-1.0" -> 1, "z_latest" -> 3))
    intercept[IllegalArgumentException](st.tag(dir, "bad\"name"))
  }

  test("a pushed filter on a column whose name needs quoting prunes " +
    "partitions and stats like any other column") {
    val dir = Files.createTempDirectory("snap-special-prune").toString
    val rs = rows(0L, 48L)
    SnapshotTable.commitPartitioned(spark, frame(rs), dir, Seq(pc),
      statsCols = Seq("id", sc))
    val files = SnapshotTable.manifestFiles(dir, 1)
    val parts = SnapshotTable.readPartValues(dir, 1).get
    def scanned(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect {
        case r: org.apache.spark.sql.execution.datasources.v2
            .DataSourceV2ScanRelation => r.scan
      }.collect { case s: graft.sources.SnapshotScan => s.files.length }.sum
    val src = spark.read.format("graft.sources.SnapshotSource").load(dir)
    // partition pruning: only the files of the matching value are read
    val eq = src.where(col(s"`$pc`") === "a,b")
    val matching = parts.count(_ == Seq(Some("a,b")))
    assert(matching > 0 && matching < files.length, parts)
    assert(scanned(eq) == matching)
    assert(collectSet(eq) == asRows(rs.filter(_._3 == "a,b")))
    // stats pruning: every file of the partition whose ids start at 5
    // records sc >= 50
    val lo = src.where(col(s"`$sc`") <= 40L)
    assert(scanned(lo) < files.length)
    assert(collectSet(lo) == asRows(rs.filter(_._2 <= 40L)))
  }

  test("a Bloom index over a table partitioned by values containing , " +
    "keeps each filter on its own file and answers pointLookup") {
    val dir = Files.createTempDirectory("snap-special-bloom").toString
    SnapshotTable.commitPartitioned(spark, frame(rows(0L, 24L)), dir,
      Seq(pc))
    SnapshotBloom.buildIndex(spark, dir, "id", fpp = 1e-4,
      expectedItemsPerFile = 1000L)
    val manifest = SnapshotTable.manifestFiles(dir, 1)
    (0L until 24L).foreach { id =>
      val cand = SnapshotBloom.candidateFiles(dir, "id", id)
      assert(cand.nonEmpty && cand.toSet.subsetOf(manifest.toSet), id)
      assert(SnapshotBloom.pointLookup(spark, dir, "id", id)
        .select(col("id"), col(s"`$pc`")).as[(Long, String)].collect()
        .toSeq == Seq((id, values((id % values.length).toInt))), id)
    }
    assert(SnapshotBloom.pointLookup(spark, dir, "id", 999L).count() == 0L)
  }
}
