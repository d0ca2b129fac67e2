package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one JVM-wide session; suites
  * run sequentially under sbt's forked test JVM). */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  lazy val sf: String = "/root/testdata/sf0.001"

  /** Runs `f` with `conf` set on the shared session, then restores each
    * key's previous value (or unsets it). */
  def withConf[A](conf: Map[String, String])(f: => A): A = {
    val prev = conf.keys.map(k => k -> spark.conf.getOption(k))
    conf.foreach { case (k, v) => spark.conf.set(k, v) }
    try f
    finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft_wh").toString
    System.setProperty("derby.system.home", wh)
    // the engine's settings (graft.SparkSessions.Engine) on a fixed
    // local[4] / 4-partition master, whatever the host's core count
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config(graft.SparkSessions.Engine)
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.warehouse.dir", s"$wh/warehouse")
      .config("javax.jdo.option.ConnectionURL",
        s"jdbc:derby:;databaseName=$wh/metastore_db;create=true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
