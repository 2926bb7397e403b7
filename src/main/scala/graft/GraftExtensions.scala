package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.types.IntegerType

import graft.cdc.{AvroDecodeEngagement, AvroEncodeEngagement}
import graft.functions.{BoundedTopK, DoubleDot, KmvSketch, MisraGries, MisraGriesWeighted, NearestCentroids, UniqUpTo}

/** SparkSessionExtensions entry point: injects the engine's custom
  * functions ([[GraftExtensions.functions]]) when a session is built.
  * [[Session.builder]] sets it; a deployment that builds its own session
  * passes `--conf spark.sql.extensions=graft.GraftExtensions`. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(ext.injectFunction)
}

object GraftExtensions {
  type Entry = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  /** `name(args)`: the arity is the number of comma-separated `args`,
    * checked before `build` runs. */
  private def entry(name: String, args: String, cls: Class[_])(
      build: Seq[Expression] => Expression): Entry =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (exprs: Seq[Expression]) => {
        require(exprs.length == args.split(",").length, s"$name($args)")
        build(exprs)
      })

  private def intLiteral(e: Expression, arg: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$arg must be an int literal, got $other")
  }

  /** Every custom function the engine resolves by name, defined once. */
  val functions: Seq[Entry] = Seq(
    entry("bounded_top_k", "score, key, k", classOf[BoundedTopK])(e =>
      BoundedTopK(e(0), e(1), intLiteral(e(2), "k")).toAggregateExpression()),
    entry("misra_gries", "item, k", classOf[MisraGries])(e =>
      MisraGries(e(0), intLiteral(e(1), "k")).toAggregateExpression()),
    entry("misra_gries_w", "item, weight, k", classOf[MisraGriesWeighted])(e =>
      MisraGriesWeighted(e(0), e(1), intLiteral(e(2), "k")).toAggregateExpression()),
    entry("uniq_up_to", "value, n", classOf[UniqUpTo])(e =>
      UniqUpTo(e(0), intLiteral(e(1), "n")).toAggregateExpression()),
    entry("kmv_sketch", "hash, k", classOf[KmvSketch])(e =>
      KmvSketch(e(0), intLiteral(e(1), "k")).toAggregateExpression()),
    entry("graft_dot", "a, b", classOf[DoubleDot])(e => DoubleDot(e(0), e(1))),
    entry("graft_nearest_cents", "v, nrm, handle LITERAL, probes LITERAL",
        classOf[NearestCentroids]) { e =>
      require(e(2).foldable && e(3).foldable,
        "graft_nearest_cents: handle and probes must be literals")
      NearestCentroids(e(0), e(1),
        NearestCentroids.lookup(e(2).eval(null).asInstanceOf[Long]),
        e(3).eval(null).asInstanceOf[Int])
    },
    entry("graft_avro_encode", "struct", classOf[AvroEncodeEngagement])(e =>
      AvroEncodeEngagement(e(0))),
    entry("graft_avro_decode", "binary", classOf[AvroDecodeEngagement])(e =>
      AvroDecodeEngagement(e(0))),
    // Spark's runtime-filter bloom expressions (the machinery behind
    // InjectRuntimeFilter) as explicit semi-join pre-filters. The value
    // must be xxhash64(key); a probe can give false positives, never
    // false negatives, so callers keep an exact join for the positives.
    entry("graft_bloom_agg", "xxhash64_col, est_items, num_bits",
        classOf[BloomFilterAggregate])(e =>
      new BloomFilterAggregate(e(0), e(1), e(2)).toAggregateExpression()),
    entry("graft_might_contain", "bloom, xxhash64_value",
        classOf[BloomFilterMightContain])(e =>
      BloomFilterMightContain(e(0), e(1))))

  /** Register every function `spark` lacks; a no-op on a session built
    * with the extension, and idempotent otherwise. Engine code calls it
    * before resolving a function by name, so sessions the engine did
    * not build (a driver's own, a streaming batch's cloned session
    * started before it) still resolve them. */
  def install(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (!registry.functionExists(id)) registry.registerFunction(id, info, build)
    }
  }
}
