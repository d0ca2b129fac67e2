package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.sources.Tables

/** The ×10 scale-curve gate over a scale-factor directory:
  *   runMain graft.tools.Profile <sfDir> scalepin [record]
  * Any other arguments print the usage line and exit 2. The session is
  * [[graft.SparkSessions.recommended]]. */
object Profile {

  private val Usage = "usage: Profile <sfDir> scalepin [record]"

  /** The `scalepin` gate's pins, read and written relative to the
    * working directory (the repository root under sbt). */
  private val PinPath = Paths.get("SCALING_PINS.json")

  /** The 10× fixture family of the `scalepin` gate (first built for the
    * scale14 probe, SCALING.md): documents ×10 content-salted (near
    * -dup structure replicated per copy, no cross-copy dup mass),
    * lineitem ×10 with prices perturbed one cent per copy, events ×10
    * with values salted one cent per copy (distinct-cents domain ×10 —
    * ADVICE r14's corrected axis). Returns (docsDir, liDir, evDir). */
  private def scale14Fixtures(spark: SparkSession, dir: String,
                              out: String): (String, String, String) = {
    def salted = when(col("copy") === 0, col("text")).otherwise(
      concat_ws(" ", transform(split(col("text"), " "),
        t => concat(t, lit("c"), col("copy").cast("string")))))
    Tables.documents(spark, dir).crossJoin(spark.range(10).toDF("copy"))
      .select((col("doc_id") * 10 + col("copy")).as("doc_id"),
        salted.as("text"), col("lang"), col("source"),
        length(salted).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$out/docs/documents.parquet")
    Tables.lineitem(spark, dir).crossJoin(spark.range(10).toDF("copy"))
      .withColumn("l_orderkey", col("l_orderkey") * 10 + col("copy"))
      .withColumn("l_extendedprice",
        col("l_extendedprice") + col("copy").cast("double") / 100.0)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/li/lineitem.parquet")
    Tables.events(spark, dir).crossJoin(spark.range(10).toDF("copy"))
      .withColumn("event_id", col("event_id") * 10 + col("copy"))
      .withColumn("user_id", col("user_id") * 10 + col("copy"))
      .withColumn("value", col("value") + col("copy").cast("double") / 100.0)
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/ev/events.parquet")
    (s"$out/docs", s"$out/li", s"$out/ev")
  }

  /** The rotated-copy embedding ×10 fixture (scale12, SCALING.md) for the
    * `scalepin` gate: norm-preserving
    * decorrelated rotations; copies > 0 remapped OFF the query stride
    * (span % stride = 2 keeps every remapped id odd) so the query set
    * stays fixed while the corpus grows 10× — the corpus-linear axis
    * knn_ivf claims. */
  private def embeddingsX10(spark: SparkSession, dir: String, out: String): String = {
    import graft.ext.sim.SimQueries
    val maxVecId = Tables.embeddings(spark, dir)
      .agg(max(col("vec_id"))).head.getLong(0)
    val copySpan = maxVecId * SimQueries.QueryStride.toLong + 2
    Tables.embeddings(spark, dir).crossJoin(spark.range(10).toDF("copy"))
      .select(
        when(col("copy") === 0, col("vec_id"))
          .otherwise(col("copy") * copySpan + col("vec_id") * lit(SimQueries.QueryStride.toLong) + 1)
          .as("vec_id"),
        when(col("copy") === 0, col("embedding")).otherwise(
          concat(slice(col("embedding"), col("copy").cast("int") * 6 + 1,
              lit(SimQueries.Dim)),
            slice(col("embedding"), lit(1), col("copy").cast("int") * 6)))
          .as("embedding"),
        col("label"))
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")
    out
  }

  /** TPC-H fact ×10 fixture for the join-heavy pin heads (VERDICT r15
    * #4): lineitem and orders ×10 with order keys remapped — 10× orders
    * at constant per-order width, the scale axis q9's fact⋈fact join and
    * q21's per-order two-level aggregate both claim — and the broadcast
    * dims (part/supplier/nation) copied through UNCHANGED, so a pin
    * degradation means the fact-side plan bent, not the fixture. */
  private def tpchX10(spark: SparkSession, dir: String, out: String): String = {
    Tables.lineitem(spark, dir).crossJoin(spark.range(10).toDF("copy"))
      .withColumn("l_orderkey", col("l_orderkey") * 10 + col("copy"))
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/lineitem.parquet")
    Tables.orders(spark, dir).crossJoin(spark.range(10).toDF("copy"))
      .withColumn("o_orderkey", col("o_orderkey") * 10 + col("copy"))
      .drop("copy")
      .write.mode("overwrite").parquet(s"$out/orders.parquet")
    Seq("part", "supplier", "nation").foreach(t =>
      Tables.load(spark, dir, t).write.mode("overwrite").parquet(s"$out/$t.parquet"))
    out
  }

  /** The headline probe pairs the `scalepin` gate re-measures: query →
    * the fixture (docs/li/ev/tpch/emb) its 10× axis lives on. Includes a
    * text-family representative (quality scoring — real per-doc compute
    * with no snapshot to hide behind; the lm/ppl entries serve persisted
    * artifacts, so their per-call cost pins nothing), the exact-dedup
    * hash-groupBy (the simplest operator whose curve a regression could
    * silently bend), and — VERDICT r15 #4 — the most expensive contract
    * entries: the df-capped n-gram posting pipeline, the two join-heavy
    * TPC-H heads, the merge-on-read index append, and the IVF tier. */
  private val PinProbes: Seq[(String, String)] = Seq(
    "mm_meta" -> "docs", "mm_features" -> "docs", "mm_frames" -> "docs",
    "mm_dedup" -> "docs", "mm_frames_dedup" -> "docs",
    "text_quality" -> "docs", "dedup_exact" -> "docs",
    "dedup_ngram_capped" -> "docs", "curate_index_append" -> "docs",
    "q9_profit" -> "tpch", "q21_sole_late" -> "tpch", "knn_ivf" -> "emb",
    "q_weighted_median" -> "li", "q_weighted_median_bucketed" -> "li",
    "q_mad_outliers" -> "ev", "q_mad_outliers_approx" -> "ev")

  def main(args: Array[String]): Unit = {
    // arguments are checked before the session builds: a typo'd mode
    // fails in a second instead of running something else
    val rest = args.drop(2).toSeq
    if (!args.lift(1).contains("scalepin") || rest.nonEmpty && rest != Seq("record")) {
      System.err.println(Usage)
      sys.exit(2)
    }
    if (rest.isEmpty && Files.exists(PinPath)) {
      // a growth ratio measured on other cores is not comparable to a pin
      val here = Runtime.getRuntime.availableProcessors
      val pinned = """^\s*"cores":\s*(\d+),?\s*$""".r
      val cores = new String(Files.readAllBytes(PinPath), "UTF-8").linesIterator
        .collectFirst { case pinned(n) => n.toInt }
      if (!cores.contains(here)) {
        println(s"scalepin NOT COMPARABLE: pins recorded on ${cores.getOrElse("unrecorded")} " +
          s"cores, this host has $here")
        sys.exit(3)
      }
    }
    val spark = graft.SparkSessions.recommended("graft-profile")
    val ok = scalePin(spark, args(0), record = rest.nonEmpty)
    spark.stop()
    if (!ok) sys.exit(2)
  }

  /** Mechanized 10x-curve regression gate (VERDICT r14 #5): SCALING.md's
    * scale tables were prose a plan change could silently invalidate. This
    * mode re-measures the headline probe pairs on the ×10 fixtures and
    * compares each query's GROWTH RATIO (x10 sec / base sec) against the
    * committed SCALING_PINS.json; a ratio degraded by more than `PinSlack`
    * fails with a diff (returns false: exit 2). The pins were recorded at
    * sf0.1 on 32 cores; `SPARK_GRAFT_CPUS=32` reproduces that session
    * (local[32], 32 shuffle partitions). `record` writes the host's core
    * count into the file, and a check on any other core count prints
    * `scalepin NOT COMPARABLE` and exits 3 before building a fixture.
    * Regenerate the pin file after an INTENDED plan change:
    *   SPARK_GRAFT_CPUS=32 sbt 'runMain graft.tools.Profile <sf0.1> scalepin record'
    * Per-reading noise policy: best-of-2 timed runs per point (the bench
    * minimum methodology), warm pass first. */
  private def scalePin(spark: SparkSession, dir: String, record: Boolean): Boolean = {
    val PinSlack = 1.5
    val (docsDir, liDir, evDir) =
      scale14Fixtures(spark, dir, "/tmp/graft_scalepin")
    val fixtureDir = Map("docs" -> docsDir, "li" -> liDir, "ev" -> evDir,
      "tpch" -> tpchX10(spark, dir, "/tmp/graft_scalepin/tpch"),
      "emb" -> embeddingsX10(spark, dir, "/tmp/graft_scalepin/emb"))
    def measure(name: String, d: String): Double = {
      val fn = (graft.SparkEntry.queries ++ graft.SparkEntry.specOnly)(name)
      fn(spark, d).count() // warm (plan + codegen + snapshot build)
      val samples = (1 to 2).map { _ =>
        val t0 = System.nanoTime(); fn(spark, d).count()
        (System.nanoTime() - t0) / 1e9
      }
      samples.min
    }
    val measured: Seq[(String, (Double, Double, Double))] =
      PinProbes.map { case (name, fx) =>
        graft.util.SnapshotCache.clearAll()
        val base = measure(name, dir)
        graft.util.SnapshotCache.clearAll()
        val x10 = measure(name, fixtureDir(fx))
        val growth = if (base > 0) x10 / base else -1.0
        println(f"scalepin $name%-28s base=$base%6.2f s  x10=$x10%6.2f s  growth=$growth%5.2fx")
        name -> (base, x10, growth)
      }
    def fmt(v: Double) = f"$v%.3f"
    if (record) {
      val body = (s"""  "cores": ${Runtime.getRuntime.availableProcessors}""" +:
        measured.map { case (n, (b, x, g)) =>
          s"""  "$n": {"base_sec": ${fmt(b)}, "x10_sec": ${fmt(x)}, "growth": ${fmt(g)}}"""
        }).mkString("{\n", ",\n", "\n}\n")
      Files.write(PinPath, body.getBytes("UTF-8"))
      println(s"scalepin recorded ${measured.size} pins -> $PinPath")
      true
    } else {
      require(Files.exists(PinPath),
        s"missing $PinPath; record it first with Profile <dir> scalepin record")
      val Entry =
        ("""^\s*"([^"]+)":\s*\{"base_sec":\s*([0-9.]+),\s*"x10_sec":\s*""" +
          """([0-9.]+),\s*"growth":\s*([0-9.]+)\}.*$""").r
      val pins = new String(Files.readAllBytes(PinPath), "UTF-8")
        .linesIterator.collect {
          case Entry(k, b, x, g) => k -> (b.toDouble, x.toDouble, g.toDouble)
        }.toMap
      val missing = PinProbes.map(_._1).filterNot(pins.contains)
      // degraded = the growth ratio AND the 10x absolute time both
      // exceed their pins by the slack. Ratio alone is fragile the
      // wrong way: a quieter host shrinks the sub-second BASE readings
      // faster than the x10 ones and "degrades" the ratio of a run
      // whose absolute times all IMPROVED (observed on the first check
      // run: every x10 below its pin, two ratios above slack). The
      // x10-time conjunct anchors the gate to what it protects — cost
      // at scale.
      val degraded = measured.collect {
        case (n, (_, x, g)) if pins.get(n).exists { case (_, px, pg) =>
            g > pg * PinSlack && x > px * PinSlack } =>
          f"$n: growth $g%.2fx vs pinned ${pins(n)._3}%.2fx AND x10 " +
            f"$x%.2fs vs pinned ${pins(n)._2}%.2fs (slack ${PinSlack}x)"
      }
      if (missing.nonEmpty)
        println(s"scalepin MISSING pins (re-record): ${missing.mkString(", ")}")
      if (degraded.nonEmpty) {
        println("scalepin DEGRADED growth ratios: a plan change hurt the " +
          "10x curve; fix it or re-record the pin with the regression " +
          "explained in SCALING.md:\n  " + degraded.mkString("\n  "))
        false
      } else {
        println(s"scalepin OK: ${measured.size} growth ratios within " +
          s"${PinSlack}x of SCALING_PINS.json")
        true
      }
    }
  }
}
