package graft.analyses

import scala.reflect.ClassTag

import org.apache.spark.Partitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.Dataset

/** The per-site solver lane: `groupBy(site)` parallelism for CPU-dense
  * stages whose per-site work is an IRLS / DP / DBSCAN solve — on a
  * site's raw rows (`Pipeline.run`, which builds the day rows in the
  * task) or on a few KB of derived state (a dilated grid).
  *
  * Rows cross one RDD shuffle with a FIXED partitioner over
  * `defaultParallelism` partitions (site `s` goes to partition
  * `((s.hashCode % par) + par) % par`) and are sorted by `ord`: site
  * first, then the caller's secondary key. Each task streams ONE site
  * at a time into `solve`, so its memory is O(one site's rows).
  *
  * Why not a Dataset `repartition(site)` / `groupByKey`: AQE coalesces
  * a byte-tiny shuffle to ONE partition (and the optimizer drops a
  * `repartition(par, site)` when the input is already hash-partitioned
  * by site). Measured round 13: 1500 sites solved serially, p01 4.8 s
  * → 33 s. AQE never re-plans an RDD partitioner.
  *
  * `solve(site, rows)` sees exactly that site's rows in `ord` order;
  * rows it leaves unread are skipped before the next site starts.
  */
private[graft] object SiteLane {

  def apply[R: ClassTag, O: ClassTag](rows: Dataset[R], site: R => Long)(
      solve: (Long, Iterator[R]) => Iterator[O]
  )(implicit ord: Ordering[R]): RDD[O] = {
    val par = rows.sparkSession.sparkContext.defaultParallelism
    val bySite = new Partitioner {
      override def numPartitions: Int = par
      override def getPartition(key: Any): Int =
        ((site(key.asInstanceOf[R]).hashCode % par) + par) % par
    }
    rows.rdd
      .map(r => (r, ()))
      .repartitionAndSortWithinPartitions(bySite)
      .mapPartitions { part =>
        val it = part.map(_._1).buffered
        var siteRows: Iterator[R] = Iterator.empty
        // one solve per site, each pulled only once the previous
        // site's output is exhausted
        Iterator.unfold(()) { _ =>
          while (siteRows.hasNext) siteRows.next()
          if (!it.hasNext) None
          else {
            val id = site(it.head)
            siteRows = new Iterator[R] {
              override def hasNext: Boolean = it.hasNext && site(it.head) == id
              override def next(): R = if (hasNext) it.next() else Iterator.empty.next()
            }
            Some((solve(id, siteRows), ()))
          }
        }.flatten
      }
  }
}
