package graft.operators

import java.nio.file.{Files, Paths}

/** Child JVM of WarehouseSnapshotSpec's restart test: two sessions in
  * a row over one snapshot warehouse, the first stopped before the
  * second starts, with a file added to the corpus in between. Prints
  * `BUILDS <n>`: how many times the snapshot was built.
  *
  * Usage: SnapshotRestartChild <warehouseDir> <corpusDir> */
object SnapshotRestartChild {
  def main(args: Array[String]): Unit = {
    val Array(warehouse, corpus) = args
    var builds = 0
    def session(): Unit = {
      val spark = graft.Session.local(1)
      spark.conf.set("spark.graft.snapshotWarehouse", warehouse)
      import spark.implicits._
      StageSnapshots.snapshot(spark, corpus, "restart-index") {
        builds += 1
        Seq((1L, "a")).toDF("id", "v")
      }.count()
      spark.stop()
    }
    session()
    Files.writeString(Paths.get(corpus, "delta.txt"), "new arrivals")
    session()
    println(s"BUILDS $builds")
  }
}
