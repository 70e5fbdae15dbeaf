package graft

import org.apache.hadoop.fs.Path
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

  /** Every file and directory under `roots`, recursively, as (path,
    * length, modification time): a read must leave all of it as it
    * found it.
    */
  def tree(roots: String*): Set[(String, Long, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def walk(p: Path): Seq[(String, Long, Long)] = {
      val fs = p.getFileSystem(conf)
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.flatMap { st =>
        (st.getPath.toString, st.getLen, st.getModificationTime) +:
          (if (st.isDirectory) walk(st.getPath) else Nil)
      }
    }
    roots.flatMap(r => walk(new Path(r))).toSet
  }
}
