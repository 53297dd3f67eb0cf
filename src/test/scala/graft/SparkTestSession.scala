package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test run, built by the same
  * `GraftSession.build` the mains use (4 cores → 4 shuffle partitions).
  * Only the warehouse differs: a fresh temp dir per run, passed as a
  * `spark.*` system property, which the session's conf picks up. */
object SparkTestSession {
  lazy val spark: SparkSession = {
    System.setProperty("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-wh").toString)
    val s = GraftSession.build("local[4]", "graft-test", cores = 4)
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf: String = "/root/testdata/sf0.001"
}
