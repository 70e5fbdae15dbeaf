package graft

import org.apache.spark.sql.{CacheProbe, SparkSession}

/** Shared session for all suites (getOrCreate → one JVM-wide session). */
trait SparkSpec {
  lazy val spark: SparkSession = Engine.session("graft-test", "local[4]", 4)
  lazy val sf: String = "/root/testdata/sf0.001"

  /** A mark of what the session holds pinned. `left` is what was pinned
    * after the mark and is still pinned: the number of new CacheManager
    * entries, and the persistent RDDs with an id above the mark's
    * highest.
    */
  final class PinMark {
    private val entries = CacheProbe.entries(spark)
    private val maxRddId = (spark.sparkContext.getPersistentRDDs.keys ++ Iterator(-1)).max
    def left: (Int, Set[Int]) = (
      CacheProbe.entries(spark) - entries,
      spark.sparkContext.getPersistentRDDs.keySet.filter(_ > maxRddId).toSet)
  }
}
