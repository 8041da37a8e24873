package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** Read-only access to the query catalog's package-private parts that
  * the benchmark observes: the session memo maps (how many entries
  * they hold and which checkpointed RDDs back them) and the catalog's
  * own `events` reader.
  */
object BenchAccess {
  private def frames: Seq[DataFrame] = {
    import Queries._
    Seq(pairsCache, ccCache, sliceCache, symCache, degCache, spanCache, lmCache, bm25Cache)
      .flatMap(_.values) ++
      lpaCache.values.flatMap(p => Seq(p._1, p._2)) ++
      bpeCache.values.flatMap(p => p._1 ++ p._2)
  }

  /** Entries held by every session memo map together. */
  def memoEntries: Int = {
    import Queries._
    Seq(pairsCache.size, ccCache.size, sliceCache.size, symCache.size, degCache.size, spanCache.size,
      lmCache.size, bm25Cache.size, lpaCache.size, bpeCache.size).sum
  }

  /** Ids of the checkpointed RDDs that back the memo entries. */
  def memoRddIds: Set[Int] =
    frames.flatMap(_.queryExecution.logical.collect { case lr: LogicalRDD => lr.rdd.id }).toSet

  def events(s: SparkSession, dir: String): DataFrame = Queries.events(s, dir)
}
