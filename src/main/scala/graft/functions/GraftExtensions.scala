package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension point — the (c) rung of the ladder: custom functions
  * (and, later, rules/strategies) registered via `SparkSessionExtensions`.
  *
  * Wire up with either a session builder's
  * `withExtensions(new GraftExtensions)` or
  * `--conf spark.sql.extensions=graft.functions.GraftExtensions` (what
  * [[graft.Session]] sets); after
  * that `graft_dot(a, b)` resolves in SQL and via
  * `functions.call_function("graft_dot", ...)`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
      (children: Seq[Expression]) => DotProduct(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_rolling_hash"),
      new ExpressionInfo(classOf[RollingHash].getName, "graft_rolling_hash"),
      (children: Seq[Expression]) => RollingHash(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[Shingles].getName, "graft_shingles"),
      (children: Seq[Expression]) => Shingles(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingle_spans"),
      new ExpressionInfo(classOf[ShingleSpans].getName, "graft_shingle_spans"),
      (children: Seq[Expression]) => ShingleSpans(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashSig].getName, "graft_minhash"),
      (children: Seq[Expression]) => MinhashSig(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashFp].getName, "graft_simhash"),
      (children: Seq[Expression]) => SimhashFp(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_min_md5"),
      new ExpressionInfo(classOf[MinMd5].getName, "graft_min_md5"),
      (children: Seq[Expression]) => MinMd5(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_overlap"),
      new ExpressionInfo(classOf[SortedOverlap].getName, "graft_overlap"),
      (children: Seq[Expression]) => SortedOverlap(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_lsh_buckets"),
      new ExpressionInfo(classOf[LshBuckets].getName, "graft_lsh_buckets"),
      (children: Seq[Expression]) =>
        LshBuckets(children(0), children(1), children(2))))
    // Spark ships Bloom-filter build/probe expressions for its runtime
    // join filters but does not register them as SQL functions; exposing
    // them here gives the decontamination path a sketch that replaces a
    // distinct-shingle broadcast join (bounded bytes instead of an
    // unbounded set, no false negatives). Values must be pre-hashed to
    // LONG (xxhash64), matching how InjectRuntimeFilter feeds them.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate].getName, "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate
          .BloomFilterAggregate(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain].getName, "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions
          .BloomFilterMightContain(children(0), children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderKey].getName, "graft_zorder"),
      (children: Seq[Expression]) =>
        ZOrderKey(children(0), children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_tri_products"),
      new ExpressionInfo(classOf[TriProducts].getName,
        "graft_tri_products"),
      (children: Seq[Expression]) => TriProducts(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[Nfc].getName, "graft_nfc"),
      (children: Seq[Expression]) => Nfc(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_deflate_len"),
      new ExpressionInfo(classOf[DeflateLen].getName,
        "graft_deflate_len"),
      (children: Seq[Expression]) => DeflateLen(children.head)))
    ext.injectFunction((
      new FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerMicro].getName,
        "graft_jaro_winkler"),
      (children: Seq[Expression]) =>
        JaroWinklerMicro(children.head, children(1))))
    // bounded per-group top-k — the grouped TakeOrderedAndProject
    // (native form of the TopKAgg Aggregator; equivalence spec-pinned)
    ext.injectFunction((
      new FunctionIdentifier("graft_topk"),
      new ExpressionInfo(classOf[TopKExpr].getName, "graft_topk"),
      (children: Seq[Expression]) =>
        TopKExpr(children(0), children(1), children(2))))
    ext.injectOptimizerRule(_ => RewriteDotProduct())
  }
}
