package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkStrategy
import graft.functions.{BottomKAgg, CosineSim, CountMinAgg, HyperLogLogAgg, IntDot, MapCountAgg, Md5Prefix60, MisraGriesAgg, MultiContains, PolyHash}
import graft.plans.{AnnJoinRewrite, TopKPerKeyStrategy, TopKRewrite}

/** The one place that lists the engine's session confs and registers its
  * functions, rules and strategy. Everything here is a plain public Spark
  * conf; nothing is magic:
  *
  *  - **AQE**: runtime re-planning converts sort-merge to broadcast when a
  *    side turns out small and coalesces shuffle partitions — also inside
  *    cached plans.
  *  - **Skew-join split** (production only): splits skewed join
  *    partitions — the complement to the engine's own skew caps (the caps
  *    bound SINGLE-KEY work, which AQE cannot split below one key;
  *    BASELINE.md's round-6 cap table measures why that matters).
  *  - **Runtime bloom-filter join pruning**: semi-join reduction for the
  *    fact-fact joins (q03/q23-shape) at 100 TB.
  *  - **V2 bucketing (storage-partitioned joins)**: snapshot tables
  *    partitioned on the same key join — and aggregate on that key —
  *    with zero shuffle exchanges (the scan reports
  *    `KeyGroupedPartitioning` from manifest bytes).
  *  - **RocksDB state store** (production only): bounded-memory streaming
  *    state — the provider the gated stream queries (q83/q85) switch on
  *    per query (`StreamingQueries.withRocksDb`).
  *  - **Generated-class cache** (production only): room for a whole
  *    pipeline's generated classes, so a repeated run compiles none.
  *  - **Local filesystem**: `file:` paths go through
  *    [[graft.io.NioLocalFileSystem]], which sets each new file's and
  *    directory's mode in-process instead of forking `chmod`; same files,
  *    bytes and modes. Hadoop caches one `FileSystem` per scheme for the
  *    whole JVM, so like the class cache it applies when the session is
  *    the JVM's first.
  *  - **Registration**: the native expressions (`poly_hash`, `cosine_sim`,
  *    `map_count`, `md5_prefix60`, `misra_gries`, ...), the TopK rewrite +
  *    physical operator, and the (conf-gated, default-off) ANN bucket-join
  *    rewrite — through [[setup]] on a built session, the one
  *    registration path (the test session uses it too).
  *
  * Shuffle-partition count is deliberately NOT in [[recommended]]: it is a
  * cluster-size decision (rule of thumb: 2-3× total executor cores; with
  * AQE coalescing, err high). The local harness recipe sets it to the core
  * count.
  */
object GraftSession {

  /** Confs every recipe shares. */
  val core: Map[String, String] = Map(
    "spark.sql.adaptive.enabled" -> "true",
    // AQE inside cached plans: without it every .persist() freezes its
    // shuffles at the static partition count and each stage over the
    // cache inherits that task count whatever the cached data's size —
    // wrong in both directions at scale (a vocab-sized round frame fans
    // 1000s of empty tasks; a skewed cached join never splits). The
    // default is false only to keep cache output partitioning stable for
    // consumers that depend on it; nothing here does (EnsureRequirements
    // re-establishes any needed distribution).
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning" -> "true",
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    "spark.sql.sources.v2.bucketing.enabled" -> "true",
    "spark.sql.session.timeZone" -> "UTC",
    // one chmod(2) per created file and directory instead of a chmod
    // process (Spark ships no libhadoop)
    "spark.hadoop.fs.file.impl" -> classOf[graft.io.NioLocalFileSystem].getName)

  /** The production recipe: [[core]] plus skew-join splitting, the
    * RocksDB state store and a larger generated-class cache. */
  val recommended: Map[String, String] = core ++ Map(
    "spark.sql.adaptive.skewJoin.enabled" -> "true",
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    // Spark's default of 100 entries is four LRU segments of 25, filled
    // by identity hash: a CorpusPipeline.run pass with its write and one
    // query generates 87 classes, which overflow a segment in about half
    // of all JVMs, and those recompile ~20 classes on every pass (~10% of
    // a warm pass). 512 keeps pipelines of that size resident; a cached
    // source averages about 7 KB. Static: it applies when the session is
    // the JVM's first.
    "spark.sql.codegen.cache.maxEntries" -> "512")

  /** The local harness recipe (Bench, Verify, Plans and the tools): [[core]]
    * on `local[cpus]` with one shuffle partition per core. The bench conf
    * is a gated harness surface — an edit here moves every timing. */
  def local(cpus: String): Map[String, String] = core ++ Map(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus,
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.ui.enabled" -> "false")

  type FunctionDescriptor = (FunctionIdentifier, ExpressionInfo,
    Seq[Expression] => Expression)

  private def int(e: Expression): Int = e.eval().asInstanceOf[Number].intValue

  private def fn(name: String, cls: Class[_])(
      build: Seq[Expression] => Expression): FunctionDescriptor =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** The native SQL functions; sketch parameters must be literals. */
  val functions: Seq[FunctionDescriptor] = Seq(
    fn("poly_hash", classOf[PolyHash])(c => PolyHash(c.head)),
    fn("cosine_sim", classOf[CosineSim])(c => CosineSim(c(0), c(1))),
    fn("map_count", classOf[MapCountAgg])(c => MapCountAgg(c.head)),
    fn("md5_prefix60", classOf[Md5Prefix60])(c => Md5Prefix60(c.head)),
    fn("misra_gries", classOf[MisraGriesAgg])(c =>
      MisraGriesAgg(c.head, int(c(1)))),
    fn("int_dot", classOf[IntDot])(c => IntDot(c(0), c(1))),
    fn("count_min", classOf[CountMinAgg])(c =>
      CountMinAgg(c.head, int(c(1)), int(c(2)), int(c(3)))),
    fn("hll_registers", classOf[HyperLogLogAgg])(c =>
      HyperLogLogAgg(c.head, int(c(1)), int(c(2)))),
    fn("bottom_k", classOf[BottomKAgg])(c =>
      BottomKAgg(c(0), c(1), c(2), int(c(3)))),
    // multi_contains(text, term1, term2, ...) — dictionary terms must be
    // foldable string literals (the automaton compiles once per plan).
    fn("multi_contains", classOf[MultiContains])(c =>
      MultiContains(c.head, c.tail.map(_.eval().toString))))

  /** Optimizer rules, in registration order. AnnJoinRewrite is inert until
    * its conf flag is set, so registering it is always safe. */
  val rules: Seq[Rule[LogicalPlan]] = Seq(TopKRewrite, AnnJoinRewrite)

  val strategies: Seq[SparkStrategy] = Seq(TopKPerKeyStrategy)

  /** Register [[functions]], [[rules]] and [[strategies]] on a built session
    * through the public experimental hooks (idempotent). */
  def setup(spark: SparkSession): SparkSession = {
    functions.foreach { case (ident, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(ident, info, builder)
    }
    val hooks = spark.experimental
    hooks.extraOptimizations ++= rules.filterNot(hooks.extraOptimizations.contains)
    hooks.extraStrategies ++= strategies.filterNot(hooks.extraStrategies.contains)
    spark
  }

  /** Build a session with the [[recommended]] confs, then [[setup]]. */
  def build(builder: SparkSession.Builder): SparkSession =
    setup(builder.config(recommended).getOrCreate())

  /** Build (or reuse) the [[local]] harness session, then [[setup]]. */
  def localSession(cpus: String): SparkSession =
    setup(SparkSession.builder().config(local(cpus)).getOrCreate())
}
