package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The driver-side iteration kernel of the fixed-iteration fits: the
  * [[Graph.hits]] half-step, the [[KMeans]] Lloyd step and the [[Pca]]
  * power iteration, in the shape of MLlib's iterative fits (Meng et al.,
  * JMLR 2016). A fit caches its input ONCE as blocks of primitive arrays
  * ([[blocks]]) and keeps its small state (scores, centroids, a
  * direction) on the driver; each step is then ONE Spark job and no
  * query plan ([[step]]), and the fit normalizes the merged exact sums
  * on the driver ([[ExactSum.toDouble]], `round6`).
  */
private[graft] object Fit {

  /** `rows` folded by `build` into one block per partition, at most one
    * per core, persisted: the first job over the result materializes it,
    * and the caller unpersists it. An input of fewer partitions than
    * cores (a small parquet is one split) is spread over the cores first;
    * the sums are exact, so the layout cannot move a result. `build` must
    * copy what it keeps: a query's rows are reused buffers.
    *
    * With `cutLineage` the blocks are checkpointed locally, so a step's
    * task carries them without the plan that produced `rows` (over a
    * cached relation, 5 KB instead of 43 KB, whose deserializing about
    * doubled a warm HITS half-step), but they cannot be recomputed once
    * lost or unpersisted.
    * So only blocks that the fit's steps alone read are cut.
    */
  def blocks[B: ClassTag](rows: RDD[InternalRow], cutLineage: Boolean)(
      build: Iterator[InternalRow] => B): RDD[B] = {
    val cores = rows.sparkContext.defaultParallelism
    val laid = if (rows.getNumPartitions >= cores) rows.coalesce(cores)
      else rows.map(_.copy()).repartition(cores)
    val cached = laid.mapPartitions(it => Iterator(build(it)))
      .persist(StorageLevel.MEMORY_AND_DISK)
    if (cutLineage) cached.localCheckpoint() else cached
  }

  /** One step as one Spark job: `state` is broadcast, `sums` turns each
    * block and the state into a `long[]` of exact sums (one length for
    * all), and the driver merges the tasks' arrays componentwise with
    * [[ExactSum.add]], as the tasks sum — exact, within the headroom and
    * independent of the blocking.
    */
  def step[B, S: ClassTag](blocks: RDD[B], state: S)(sums: (B, S) => Array[Long]): Array[Long] = {
    val st = blocks.sparkContext.broadcast(state)
    try blocks.map(sums(_, st.value)).reduce { (x, y) =>
      var j = 0
      while (j < x.length) { x(j) = ExactSum.add(x(j), y(j)); j += 1 }
      x
    } finally st.destroy()
  }
}
