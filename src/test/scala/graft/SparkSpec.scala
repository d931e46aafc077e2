package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites (one JVM-wide session, UTC, small
  * shuffle fan-out for local runs). */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
  val sf = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = TestSpark.sf
  def run(name: String) = SparkEntry.queries(name)(spark, sf)

  /** The state shard count (`spark.sql.shuffle.partitions`) each
    * offset-log entry of the query checkpoint at `ckpt` records. */
  def recordedShards(ckpt: String): Seq[Int] =
    Option(new java.io.File(ckpt, "offsets").listFiles()).getOrElse(Array.empty)
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toLong).toSeq
      .flatMap(f => "\"spark.sql.shuffle.partitions\":\"(\\d+)\"".r
        .findFirstMatchIn(java.nio.file.Files.readString(f.toPath)).map(_.group(1).toInt))
}
