package graft

/** The one session recipe ([[SparkSessions]]): how the master and shuffle
  * partitions resolve, the exact conf the benchmark harness session gets,
  * the test session's engine settings, and that no other main-tree code
  * builds a session of its own. */
class SparkSessionsSpec extends SparkSpec {

  private def resolve(env: Map[String, String] = Map.empty,
                      props: Map[String, String] = Map.empty): (Option[String], String) = {
    val s = SparkSessions.settings(streaming = false, env, props)
    (s.get("spark.master"), s("spark.sql.shuffle.partitions"))
  }

  test("master and shuffle partitions resolve from env and system properties") {
    val cores = Runtime.getRuntime.availableProcessors().toString
    val cases: Seq[(Map[String, String], Map[String, String], (Option[String], String))] = Seq(
      // nothing set: the bare `sbt runMain` default
      (Map(), Map(), (Some("local[4]"), "4")),
      (Map("SPARK_GRAFT_CPUS" -> "8"), Map(), (Some("local[8]"), "8")),
      (Map("SPARK_MASTER" -> "local[2]"), Map(), (Some("local[2]"), "2")),
      (Map("SPARK_MASTER" -> "local[2]", "SPARK_GRAFT_CPUS" -> "6"), Map(), (Some("local[2]"), "6")),
      (Map("SPARK_MASTER" -> "local[*]"), Map(), (Some("local[*]"), cores)),
      (Map("SPARK_MASTER" -> "spark://h:7077"), Map(), (Some("spark://h:7077"), "200")),
      // spark-submit's master is left alone, not re-set
      (Map(), Map("spark.master" -> "local[3]"), (None, "3")),
      (Map(), Map("spark.master" -> "yarn"), (None, "200")),
      (Map("SPARK_GRAFT_CPUS" -> "16"), Map("spark.master" -> "yarn"), (None, "16")),
      // SPARK_MASTER wins over spark-submit's
      (Map("SPARK_MASTER" -> "local[5]"), Map("spark.master" -> "yarn"), (Some("local[5]"), "5")))
    cases.foreach { case (env, props, want) =>
      assert(resolve(env, props) == want, s"env=$env props=$props")
    }
  }

  test("the benchmark harness session (streaming, no env) is pinned") {
    val harness = Map(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.files.maxPartitionBytes" -> "134217728",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "false",
      "spark.scheduler.mode" -> "FAIR",
      "spark.ui.enabled" -> "false",
      "spark.hadoop.fs.file.impl" -> "graft.util.NioLocalFileSystem",
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> "graft.util.NioLocalFs",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> "true",
      "spark.sql.sources.parallelPartitionDiscovery.threshold" -> "10000")
    assert(SparkSessions.settings(streaming = true, Map.empty, Map.empty) == harness)
    assert(SparkSessions.settings(streaming = false, Map.empty, Map.empty) ==
      harness -- SparkSessions.Streaming.keys)
  }

  test("the test session carries every Engine setting") {
    val conf = spark.sparkContext.getConf
    SparkSessions.Engine.foreach { case (k, v) =>
      assert(conf.getOption(k).contains(v), s"$k: ${conf.getOption(k)} != $v")
    }
  }

  test("SparkSessions.scala is the only main-tree code that builds a session") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    val files = java.nio.file.Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(files.nonEmpty, s"sweep found no sources under $root — run from the repo root")
    // comment lines (a Scaladoc usage example) are not call sites
    val sites = files.filterNot(_.endsWith("SparkSessions.scala")).flatMap { p =>
      new String(java.nio.file.Files.readAllBytes(p), "UTF-8").linesIterator.zipWithIndex
        .collect { case (line, i) if line.contains("SparkSession.builder") &&
            !line.trim.startsWith("*") && !line.trim.startsWith("//") =>
          s"$p:${i + 1}: ${line.trim}"
        }
    }
    assert(sites.isEmpty, "build the session through SparkSessions.recommended:\n" +
      sites.mkString("\n"))
  }
}
