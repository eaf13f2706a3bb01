package graft.plans

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

/** SparkSessionExtensions hook exposing the engine's native
  * expressions to SQL (`SELECT graft_dot(a.embedding, b.embedding)`),
  * so spark.sql users get the codegen'd hot path without touching the
  * Scala API:
  *
  * {{{
  *   SparkSession.builder().withExtensions(new GraftExtensions)...
  *   // or: --conf spark.sql.extensions=graft.plans.GraftExtensions
  * }}}
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    // the engine's first injected OPTIMIZER RULE (not just functions):
    // size(split(x, " ", -1)) → allocation-free token_count(x), null
    // semantics preserved (see RewriteTokenCount)
    e.injectOptimizerRule(_ => RewriteTokenCount)
    // the stats-feedback rule: a registered bloom bitmap (built from
    // the dim side's keys, the q339 decision) becomes a pre-shuffle
    // might_contain Filter on the probe side of the matching join
    e.injectOptimizerRule(_ => InjectBloomPrefilter)
    // the join-order decision (q348's containment estimate) enforced:
    // a registered marker condition pulls its join innermost
    e.injectOptimizerRule(_ => ReorderJoinByStats)
    // the materialized-view rewrite: a registered aggregate over the
    // base table is answered from the rename-published MV artifact
    // (plan substitution with exprId-preserving aliases)
    e.injectOptimizerRule(_ => RewriteToMv)
    GraftExtensions.functions.foreach(e.injectFunction)
  }
}

object GraftExtensions {
  /** The engine's SQL functions as (name, info, builder): the one
    * table both `GraftExtensions` (new sessions) and `RegisterFunctions`
    * (existing sessions) register.  Every builder checks its arity and
    * names the signature when it fails.
    */
  private[plans] val functions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    fn("graft_token_count", classOf[TokenCount], 1, "graft_token_count(string)") { a =>
      TokenCount(a.head) },
    fn("graft_dot", classOf[DotProduct], 2, "graft_dot(arrayFloat, arrayFloat)") { a =>
      DotProduct(a(0), a(1)) },
    fn("graft_norm", classOf[VecNorm], 1, "graft_norm(arrayFloat)") { a =>
      VecNorm(a.head) },
    fn("graft_winnow", classOf[WinnowFingerprints], 3, "graft_winnow(text, k, w)") { a =>
      WinnowFingerprints(a.head, intLit(a(1)), intLit(a(2))) },
    fn("graft_minhashes", classOf[MinHashes], 3, "graft_minhashes(text, shingleN, numHashes)") { a =>
      MinHashes(a.head, intLit(a(1)), intLit(a(2))) },
    fn("graft_ln", classOf[GraftLn], 1, "graft_ln(double)") { a =>
      GraftLn(a.head) },
    fn("graft_repetition", classOf[RepetitionStats], 1, "graft_repetition(text)") { a =>
      RepetitionStats(a.head) },
    fn("graft_jw", classOf[JaroWinkler], 2, "graft_jw(string, string)") { a =>
      JaroWinkler(a(0), a(1)) },
    // Spark ships a distributed bloom-filter aggregate + membership
    // probe for its own runtime join filters but leaves them out of the
    // public registry; exposing them gives SQL the classic at-scale
    // prefilter (build once over the small side, broadcast the bitmap
    // via a scalar subquery, drop definite-misses before any join).
    fn("graft_bloom_agg", classOf[BloomFilterAggregate], 3, "graft_bloom_agg(longCol, estItems, numBits)") { a =>
      new BloomFilterAggregate(a.head, Literal(longLit(a(1))), Literal(longLit(a(2)))) },
    fn("graft_might_contain", classOf[BloomFilterMightContain], 2, "graft_might_contain(bloomBinary, longCol)") { a =>
      BloomFilterMightContain(a.head, a(1)) })

  /** A table row whose builder requires `arity` arguments. */
  private def fn(name: String, cls: Class[_], arity: Int, usage: String)(
      build: Seq[Expression] => Expression)
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) =
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => { require(args.length == arity, usage); build(args) })

  /** Resolve a literal int argument at registration time (k/w/n are
    * plan-shaping constants, not data).
    */
  private def intLit(e: Expression): Int = {
    require(e.foldable, s"expected a literal int, got $e")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case o => throw new IllegalArgumentException(s"expected int literal, got $o")
    }
  }

  /** Same, but kept as Long (bloom sizing arguments) so the re-wrapped
    * literal always reaches BloomFilterAggregate's type check as
    * LongType regardless of how the SQL parser typed the number.
    */
  private def longLit(e: Expression): Long = {
    require(e.foldable, s"expected a literal long, got $e")
    e.eval() match {
      case i: Int => i.toLong
      case l: Long => l
      case o => throw new IllegalArgumentException(s"expected long literal, got $o")
    }
  }
}
