package graft.util

import org.apache.spark.sql.{DataFrame, GraftSqlShims}

/** The continuous tier's rolling generations of a maintained state table
  * set (MultiQueryDriver's graph and relation, StreamGraph's graph,
  * SJTreeState's probed stages): each batch's state, the previous one plus
  * a small overlay, rolls to a persisted leaf (GraftSqlShims.roll).
  * Generation b feeds b+1's pipeline, so all but the newest two are
  * released. Every `compactEvery` rolls an eager checkpoint (`compact`)
  * bounds the lineage and releases every rolled generation. */
final class Generations(compactEvery: Int) {
  private val gens = scala.collection.mutable.Queue.empty[Seq[DataFrame]]
  private var rolled = 0

  def roll(dfs: DataFrame*): Seq[DataFrame] = {
    val leaves = dfs.map(GraftSqlShims.roll)
    gens.enqueue(leaves)
    while (gens.size > 2) gens.dequeue().foreach(GraftSqlShims.release)
    rolled += 1
    leaves
  }

  def due: Boolean = rolled >= compactEvery
  def rolledSinceCompact: Boolean = rolled > 0

  def compact(dfs: DataFrame*): Seq[DataFrame] = {
    val base = dfs.map(GraftSqlShims.checkpoint(_))
    clear()
    base
  }

  def clear(): Unit = {
    gens.foreach(_.foreach(GraftSqlShims.release))
    gens.clear()
    rolled = 0
  }
}
