package graft.analyses

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, Dataset, Encoder}

/** The per-site solver lane: `groupBy(site)` parallelism for CPU-dense
  * stages whose per-site work is an IRLS / DP / DBSCAN solve — on a
  * site's raw rows (`Pipeline.run`, which builds the day rows in the
  * task) or on a few KB of derived state (a dilated grid).
  *
  * Three Dataset operators: `repartitionById` over
  * `defaultParallelism` partitions (site `s` goes to partition
  * `pmod(s, par)`), `sortWithinPartitions` by the `site` column and
  * then `sortBy`, and a `mapPartitions` that streams ONE site at a
  * time into `solve`, so a task's memory is O(one site's rows). Rows
  * stay `UnsafeRow`s through the shuffle and the sort, and are decoded
  * as they reach `solve`.
  *
  * Why `repartitionById`, not `repartition(par, site)` or
  * `groupByKey`: AQE coalesces a byte-tiny `groupByKey` shuffle to ONE
  * partition, and `EnsureRequirements` drops a `repartition(par, site)`
  * when the input is already hash-partitioned by site, leaving only
  * such a coalescible exchange (measured round 13: 1500 sites solved
  * serially, p01 4.8 s → 33 s). `repartitionById`'s
  * shuffle keeps both properties without a plan node of its own: its
  * origin is `REPARTITION_BY_NUM`, which AQE's
  * `CoalesceShufflePartitions` never coalesces, and its partitioning
  * is `ShufflePartitionIdPassThrough`, not a `HashPartitioning`, so it
  * never satisfies (and is never replaced by) the input's partitioning.
  *
  * Why `pmod(site, par)`, not a hash: site ids are small dense
  * integers, and the modulus spreads them evenly over the partitions
  * (a hashed variant put `fleet_wide`'s 16 sites unevenly on 4
  * partitions and lost 8–25 % throughput).
  *
  * `rows` must have a non-null integral `site` column and `site(r)`
  * must read it. `solve(site, rows)` sees exactly that site's rows in
  * (`sortBy`) order; rows it leaves unread are skipped before the next
  * site starts.
  */
private[graft] object SiteLane {

  def apply[R, O: Encoder](rows: Dataset[R], site: R => Long, sortBy: Column*)(
      solve: (Long, Iterator[R]) => Iterator[O]
  ): Dataset[O] = {
    val par = rows.sparkSession.sparkContext.defaultParallelism
    rows
      .repartitionById(par, pmod(col("site"), lit(par)).cast("int"))
      .sortWithinPartitions(col("site") +: sortBy: _*)
      .mapPartitions { part =>
        val it = part.buffered
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
