package graft.tools

import org.apache.spark.sql.functions._

/** Build a larger documents corpus from a testdata scale factor for scale
  * benchmarking:
  * `runMain graft.tools.ScaleUp <srcSfDir> <dstDir> <copies> [mode]`.
  *
  * mode `disjoint` (default): each copy k suffixes every token with
  * `_c<k>` (copy 0 stays verbatim), so the copies have DISJOINT
  * vocabularies: the source's exact-dup and near-dup structure replicates
  * proportionally (each planted dup group exists once per copy), shingle
  * document frequencies stay at their source values, and LSH bucket sizes
  * stay constant — i.e. a 10-copy run models a corpus 10× the size with
  * the same duplication FRACTION, the regime the dedup operators'
  * near-linear scaling claims are about.
  *
  * mode `shared`: text VERBATIM in every copy (only doc_id offset) — a
  * duplication-flood corpus: every document becomes a 10-way exact-dup
  * group, dfs and LSH bucket sizes grow 10×, candidate pairs grow ~100×
  * inside every bucket. This is the degenerate regime the pipeline
  * contract assigns to exact dedup FIRST (q79 stage 1 collapses it before
  * any shingle/signature work) and the hot-shingle/hot-bucket caps guard
  * against in the pair miners.
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val src = args(0); val dst = args(1); val copies = args(2).toInt
    val mode = if (args.length > 3) args(3) else "disjoint"
    require(mode == "disjoint" || mode == "shared", s"unknown mode $mode")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = graft.GraftSession.localSession(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val c = spark.range(copies).select(col("id").as("copy"))
    val toks = split(col("text"), " ")
    val suffixed = array_join(
      transform(toks, t => concat(t, lit("_c"), col("copy"))), " ")
    val text =
      if (mode == "shared") col("text")
      else when(col("copy") === 0, col("text")).otherwise(suffixed)
    docs.crossJoin(c)
      .select(
        (col("doc_id") + col("copy") * 100000L).as("doc_id"),
        text.as("text"),
        col("lang"), col("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$dst/documents.parquet")
    println(s"[scaleup] wrote ${copies}x ${docs.count()} docs to $dst")
    // embeddings scale the same way: copy 0 verbatim, copy k perturbed by
    // a deterministic per-(copy, dim) offset — copies are NEAR (not
    // identical) vectors, the realistic shape for an ANN corpus 10× the
    // size (identical vectors would make bucketing degenerate-trivial)
    val emb = spark.read.parquet(s"$src/embeddings.parquet")
    emb.crossJoin(c)
      .select(
        (col("vec_id") + col("copy") * 100000L).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x + ((col("copy") * (i + 3)) % 11 - 5).cast("float") * lit(0.01f))
            .cast("float")).as("embedding"),
        col("label"))
      .repartition(16)
      .write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
    println(s"[scaleup] wrote ${copies}x ${emb.count()} embeddings to $dst")
    spark.stop()
  }
}
