package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge.{column, expression => e}
import org.apache.spark.sql.catalyst.expressions.Cast
import org.apache.spark.sql.types.LongType

/** Typed `Column` builders for graft's Catalyst kernels. A call site builds
  * the expression directly — `dot(col("a_emb"), col("b_emb"))` — so the
  * plan is the one a registered SQL name would resolve to, and the
  * caller's session function registry is never written. Each builder fixes
  * the kernel's constants (shingle n, MinHash k, t-digest quantiles, ...).
  * SQL users reach `graft_logistic` and `graft_dot` through
  * [[GraftExtensions]].
  */
package object functions {
  def dot(a: Column, b: Column): Column = column(DotProduct(e(a), e(b)))
  def l2sq(a: Column, b: Column): Column = column(SquaredL2(e(a), e(b)))
  def normText(text: Column): Column = column(NormalizeText(e(text)))
  def charPairs(w: Column): Column = column(CharPairs(e(w)))
  /** Generator of (pos, shingle) character 3-grams. */
  def shingles(text: Column): Column = column(ShingleGenerator(e(text), 3))
  def minhash(s: Column): Column = column(MinHashSketch(e(s), 4).toAggregateExpression())
  def bloom(fp: Column, expectedItems: Long, fpp: Double): Column =
    column(BloomSketch(e(fp), expectedItems, fpp).toAggregateExpression())
  def blockSimhash(text: Column, nChars: Column): Column =
    column(BlockSimHash(e(text), e(nChars)))
  /** [q25, q50, q90] of a numeric column. */
  def tdigest(x: Column): Column =
    column(TDigestSketch(e(x), Seq(0.25, 0.5, 0.9)).toAggregateExpression())
  def freqItems(item: Column): Column =
    column(FrequentItemsSketch(e(item), FrequentItemsSketch.DefaultK).toAggregateExpression())
  /** Top-2 (score, key) pairs by score. */
  def topk(score: Column, key: Column): Column =
    column(TopKSketch(e(score), e(key), 2).toAggregateExpression())
  def zorder16(a: Column, b: Column): Column =
    column(ZOrder16(Cast(e(a), LongType), Cast(e(b), LongType)))
  def gridIslands(kept: Column): Column = column(GridIslands(e(kept)))
  def logistic(x: Column): Column = column(LogisticScore.build(Seq(e(x))))
}
