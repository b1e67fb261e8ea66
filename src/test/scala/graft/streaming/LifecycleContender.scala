package graft.streaming

/** Child-JVM driver for the CROSS-PROCESS lifecycle-index contention
  * spec (LifecycleCrossProcessSpec): a SECOND SparkSession in its own
  * process repeatedly folds one shared index while the parent process
  * streams insert/delete epochs into it — the two-maintainer
  * deployment shape the in-process specs could not exercise. Every
  * fold commit is pinned CAS (SnapshotTable.overwriteFrom), so a fold
  * racing a live epoch across the process boundary must either
  * complete cleanly or fail loudly with IllegalStateException and
  * nothing clobbered; this main counts both outcomes and exits 0 —
  * the PARENT asserts the index's final state is exactly the
  * composed batch rule, which is what "nothing clobbered" means.
  *
  * Usage: LifecycleContender <corpusDir> <indexDir> <nFolds>
  */
object LifecycleContender {
  def main(args: Array[String]): Unit = {
    val (d, idx, n) = (args(0), args(1), args(2).toInt)
    val spark = graft.Session.local(4)
    spark.sparkContext.setLogLevel("ERROR")
    var ok = 0
    var collisions = 0
    for (_ <- 1 to n) {
      try {
        LifecycleIndex.foldTombstones(spark, d, idx)
        ok += 1
      } catch {
        // the designed loud failure: an epoch commit interleaved with
        // this fold's derivation — retry at the next trigger
        case _: IllegalStateException => collisions += 1
      }
      Thread.sleep(150)
    }
    // parseable summary line the parent asserts on
    println(s"CONTENDER folds_ok=$ok collisions=$collisions")
    spark.stop()
  }
}
