package graft.operators

import java.nio.file.{Files, Paths}

/** Child JVM of WarehouseSnapshotSpec's temp-dir test: materializes one
  * stage snapshot twice with no snapshot warehouse (so under
  * java.io.tmpdir), the first superseded by the second, and exits.
  * Prints `SNAPSHOT <dir> <exists>` for each.
  *
  * Usage: SnapshotTempChild <corpusDir> */
object SnapshotTempChild {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(1)
    spark.conf.unset("spark.graft.snapshotWarehouse")
    import spark.implicits._
    for (i <- 1 to 2) {
      val dir = StageSnapshots.materialize(spark, args(0), "temp-probe")(
        Seq(i.toLong).toDF("id"))
      println(s"SNAPSHOT $dir ${Files.exists(Paths.get(dir))}")
    }
    spark.stop()
  }
}
