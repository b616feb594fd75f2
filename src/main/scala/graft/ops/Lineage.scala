package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Dataset

/** Lineage cuts for the iterative operators (PageRank, Bfs, Sssp,
  * LabelProp, connected components, BPE training). An iterative
  * DataFrame plan grows with every round unless each round's result is
  * cut from its lineage, so these operators cut once per round and take
  * an optional `checkpointDir` that chooses how:
  *
  *  - `None`: a `localCheckpoint` — executor-local blocks, correct
  *    locally and cheapest, but on a real cluster they die with their
  *    executor and a long job restarts from nothing.
  *  - `Some(d)`: a reliable `checkpoint()` whose files land under `d`
  *    (HDFS or an object store on a cluster). The SparkContext holds one
  *    checkpoint dir, so a cut re-points it at a fresh subdirectory of
  *    `d` unless it already names one; reliable cuts run one at a time,
  *    so two calls passing different dirs each write under their own.
  *    The dir is not set back afterwards: a later `Dataset.checkpoint()`
  *    on the same session also writes under `d`, even where the caller
  *    had set a dir of their own before.
  *
  * This is the one place that sets the context's checkpoint dir. */
object Lineage {

  /** An eager cut: `ds` is materialized before this returns. */
  def cut[T](ds: Dataset[T], checkpointDir: Option[String]): Dataset[T] =
    checkpointDir.fold(ds.localCheckpoint(true))(reliable(ds, _))

  /** A lazy local cut: the blocks materialize with the first action on
    * the result, so a round whose next step is a full scan pays one job,
    * not two. A reliable cut stays eager: a lazy `checkpoint()` writes
    * its files by re-running the plan after that first action. */
  def cutLazy[T](ds: Dataset[T], checkpointDir: Option[String]): Dataset[T] =
    checkpointDir.fold(ds.localCheckpoint(false))(reliable(ds, _))

  private def reliable[T](ds: Dataset[T], dir: String): Dataset[T] = {
    val sc = ds.sparkSession.sparkContext
    val d = new Path(dir)
    val want = d.getFileSystem(sc.hadoopConfiguration).makeQualified(d)
    synchronized {
      if (!sc.getCheckpointDir.exists(cur => new Path(cur).getParent == want))
        sc.setCheckpointDir(dir)
      ds.checkpoint(true)
    }
  }
}
