package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.graft.{DotProduct, HammingDistance}

/** SparkSessionExtensions entry point: registers the engine's custom
  * Catalyst expressions as SQL functions, so
  * `spark.sql("SELECT graft_dot(a, b) ...")` plans the codegen'd
  * expression directly.
  *
  * Wire-up: `SparkSession.builder().withExtensions(new GraftExtensions)`
  * or `--conf spark.sql.extensions=graft.functions.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(GraftExtensions.dotFunction)
    ext.injectFunction(GraftExtensions.hammingFunction)
    ext.injectFunction(GraftExtensions.bloomAggFunction)
    ext.injectFunction(GraftExtensions.mightContainFunction)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.TopKStrategy)
    ext.injectPlannerStrategy(_ => org.apache.spark.sql.graft.CompactFoldStrategy)
    // rank-limit windows → bounded-heap top-k (strategy above plans it)
    ext.injectOptimizerRule(_ => org.apache.spark.sql.graft.WindowToTopK)
  }
}

object GraftExtensions {

  /** (name, info, builder) tuple for FunctionRegistry injection. */
  val dotFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_dot(a, b) takes two array<double> args")
      DotProduct(children.head, children(1))
    })

  /** Byte-wise string Hamming distance, `graft_hamming(a, b)`. */
  val hammingFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_hamming"),
    new ExpressionInfo(classOf[HammingDistance].getName, "graft_hamming"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "graft_hamming(a, b) takes two string args")
      HammingDistance(children.head, children(1))
    })

  /** Spark's internal bloom-filter aggregate (the runtime-filter builder),
    * surfaced as `graft_bloom_agg(xxhash64(key), items, bits)`.
    */
  val bloomAggFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_bloom_agg"),
    new ExpressionInfo(classOf[BloomFilterAggregate].getName, "graft_bloom_agg"),
    (children: Seq[Expression]) => {
      require(children.length == 3,
        "graft_bloom_agg(keyHash, estimatedItems, numBits) takes three args")
      new BloomFilterAggregate(children.head, children(1), children(2))
    })

  /** `graft_might_contain(bloom, xxhash64(value))` — probe side; the bloom
    * argument must be a constant or scalar subquery (Spark's requirement).
    */
  val mightContainFunction: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_might_contain"),
    new ExpressionInfo(classOf[BloomFilterMightContain].getName, "graft_might_contain"),
    (children: Seq[Expression]) => {
      require(children.length == 2,
        "graft_might_contain(bloom, valueHash) takes two args")
      BloomFilterMightContain(children.head, children(1))
    })

  /** Add `st` to the session's planner strategies unless it is there —
    * the one place a graft strategy is registered on a built session
    * ([[register]], and the operators that plan a graft node directly).
    * Public, not `private[graft]`: the strategies' own package is
    * `org.apache.spark.sql.graft`, outside this one.
    */
  def addStrategy(spark: org.apache.spark.sql.SparkSession,
      st: org.apache.spark.sql.execution.SparkStrategy): Unit =
    if (!spark.experimental.extraStrategies.contains(st))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ st

  /** Imperative registration for an already-built session (tests, REPL). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    // Idempotent: register() is called defensively by every query that
    // needs the SQL surface, and repeat registration logs a "replaced a
    // previously registered function" WARN per function per call. The
    // merge UDAF registers LAST below, so its presence proves a prior
    // call completed the whole sequence.
    val registry = spark.sessionState.functionRegistry
    if (registry.lookupFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("graft_merge"))
        .isDefined) {
      registerPlanRules(spark) // strategies are per-session state too
      return
    }
    for ((id, info, builder) <-
        Seq(dotFunction, hammingFunction, bloomAggFunction,
          mightContainFunction))
      registry.registerFunction(id, info, builder)
    // §2.9 UDAF surface: the merge fold as a SQL aggregate
    spark.udf.register("graft_merge",
      org.apache.spark.sql.functions.udaf(graft.MergeActionAgg))
    registerPlanRules(spark)
  }

  /** rank-limit windows → bounded-heap top-k: the rule needs its
    * planning strategy registered alongside it; the compact fold's
    * strategy rides along (idempotent adds).
    */
  private def registerPlanRules(
      spark: org.apache.spark.sql.SparkSession): Unit = {
    import org.apache.spark.sql.graft.{CompactFoldStrategy, TopKStrategy, WindowToTopK}
    addStrategy(spark, TopKStrategy)
    addStrategy(spark, CompactFoldStrategy)
    if (!spark.experimental.extraOptimizations.contains(WindowToTopK))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ WindowToTopK
  }
}
