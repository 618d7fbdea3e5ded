package graft.query

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed top-k merge as an `Aggregator` (SURVEY.md §4.3): merges per-shard
  * WAND candidates into the global top-k inside the engine (partial
  * aggregation on the map side) instead of sorting k×shards rows through
  * an `orderBy().limit()`. Order contract matches the oracle exactly:
  * (score desc, docId asc).
  *
  * Register with `functions.udaf(new TopKAggregator(k))` for SQL use, or
  * apply via `Dataset.select(agg.toColumn)`.
  */
final class TopKAggregator(k: Int)
  extends Aggregator[Scored, Array[Scored], Array[Scored]] {

  private def best(xs: Array[Scored]): Array[Scored] = IndexReader.head(xs, k)

  override def zero: Array[Scored] = Array.empty

  override def reduce(buf: Array[Scored], s: Scored): Array[Scored] =
    if (buf.length >= k && {
        val w = buf(buf.length - 1)
        s.score < w.score || (s.score == w.score && s.docId > w.docId)
      }) buf
    else best(buf :+ s)

  override def merge(a: Array[Scored], b: Array[Scored]): Array[Scored] =
    best(a ++ b)

  override def finish(r: Array[Scored]): Array[Scored] = best(r)

  override def bufferEncoder: Encoder[Array[Scored]] = Encoders.kryo
  override def outputEncoder: Encoder[Array[Scored]] = Encoders.kryo
}
