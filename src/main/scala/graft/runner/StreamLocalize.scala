package graft.runner

import graft.algorithms.{Adtributor, RiskLoc}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming localization end-to-end at scale (VERDICT r7 #5): extend the
  * STREAM_SCALE.md replay — H-sized raw minutes through the stateful
  * `StreamingForecast.anomalySnapshots` — with the downstream leg the r7
  * evidence lacked: an RCA localization per completed window inside
  * `foreachBatch`, each window's predictions compared against the batch
  * engine run on the batch-computed snapshot of the same minute.
  *
  * Anomalies are injected on a rotating element every `spikeEvery`
  * minutes so the emitted windows actually exercise localization (the
  * STREAM_SCALE series spikes only the final minute, which the watermark
  * never closes).
  *
  * The algorithm is Adtributor in derived mode (the snapshot carries the
  * RS-style real_a/predict_a/real_b/predict_b measures) — two aggregation
  * passes per window, the cheapest end-to-end proof; the `localize`
  * callback would take any of the seven algorithms unchanged
  * (StreamingForecast.localizeEachMinute is algorithm-agnostic).
  *
  * Scale shape: the per-window snapshot is leaf-count-sized, the
  * localization runs as ordinary Spark jobs against the micro-batch
  * (persisted once), and nothing driver-side grows with minutes streamed
  * — per-window latency is the steady-state figure that holds for an
  * unbounded stream. StreamLocalizeSpec pins window-prediction parity at
  * toy size on every test run.
  *
  * Usage: StreamLocalize [dimsSpec] [minutes] [spikeEvery] [outMd] [algo]
  */
object StreamLocalize {

  final case class WindowResult(minute: Long, streamPreds: Seq[String],
      batchPreds: Seq[String], latencySec: Double) {
    def ok: Boolean = streamPreds == batchPreds
  }

  /** Deterministic raw series with a localizable anomaly every
    * `spikeEvery` minutes: in spike minute m, element `a<(m mod card)+1>`
    * fails hard (failure count 60 of cnt 100 vs background 0-5). */
  def rawSeries(spark: SparkSession, dims: Seq[(String, Int)], minutes: Int,
      spikeEvery: Int, baseEpoch: Long): DataFrame = {
    val leaves = dims.map(_._2.toLong).product
    val strides = dims.map(_._2.toLong).scanRight(1L)(_ * _).tail
    var df = spark.range(leaves * minutes).toDF()
      .withColumn("minute", (col("id") / leaves).cast("long"))
      .withColumn("leaf", col("id") % leaves)
    dims.zipWithIndex.foreach { case ((name, card), i) =>
      df = df.withColumn(name,
        concat(lit(name),
          ((floor(col("leaf") / strides(i)) % card) + 1).cast("long").cast("string")))
    }
    val u = (pmod(xxhash64(col("id"), lit(17L)), lit(1L << 30)).cast("double") + 0.5) / (1L << 30).toDouble
    val (a, card) = dims.head
    val spikeElem = concat(lit(a), ((col("minute") % card) + 1).cast("string"))
    val spike = col("minute") % spikeEvery === (spikeEvery - 1) && col(a) === spikeElem
    df.withColumn("cnt", lit(100.0))
      .withColumn("failures", when(spike, 60.0).otherwise(floor(u * 6).cast("double")))
      .withColumn("value", col("cnt") - col("failures"))
      .withColumn("ts", (lit(baseEpoch) + col("minute") * 60).cast("timestamp"))
      .select(("ts" +: dims.map(_._1) :+ "value" :+ "cnt").map(col): _*)
  }

  /** Per-window localization: `adtributor` (derived mode, single-pass — the
    * cheapest end-to-end proof) or `riskloc` (the remove-and-repeat
    * iterative loop on the real/predict measures — multiple Spark jobs per
    * window, proving the foreachBatch leg holds latency for iterative
    * algorithms too). */
  def localizeSnapshot(snapshot: DataFrame, attrs: Seq[String],
      algo: String = "adtributor"): Seq[String] = algo match {
    case "adtributor" =>
      Adtributor.predictions(Adtributor.run(
        snapshot, attrs, Adtributor.Options(derived = true)))
    case "riskloc" =>
      RiskLoc.predictions(RiskLoc.run(snapshot, attrs))
    case other => throw new IllegalArgumentException(s"unsupported algo: $other")
  }

  def run(spark: SparkSession, dims: Seq[(String, Int)], minutes: Int,
      spikeEvery: Int, periods: Int = 4,
      filesPerMinute: Int = 4, algo: String = "adtributor"): (Seq[WindowResult], Double, Long) = {
    val attrs = dims.map(_._1)
    val base = 1700000040L
    val work = java.nio.file.Files.createTempDirectory("graft_stream_loc").toString
    val inDir = work + "/in"
    val ckpt = work + "/ckpt"

    val static = rawSeries(spark, dims, minutes, spikeEvery, base)
    (0 until minutes).foreach { m =>
      static.filter(col("ts") === lit(base + m * 60L).cast("timestamp"))
        .coalesce(filesPerMinute).write.mode("append").parquet(inDir)
    }
    val inputRows = dims.map(_._2.toLong).product * minutes

    val stream = spark.readStream
      .schema(static.schema)
      .option("maxFilesPerTrigger", filesPerMinute)
      .parquet(inDir)
    val snapshots = graft.streaming.StreamingForecast.anomalySnapshots(stream, attrs, periods)

    val results = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Seq[String], Double)]()
    val t0 = System.nanoTime()
    val query = snapshots.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.persist()
        try {
          val ms = batch.select("snapshot_minute").distinct()
            .collect().map(_.getLong(0)).sorted
          ms.foreach { m =>
            val w0 = System.nanoTime()
            val preds = localizeSnapshot(
              batch.filter(col("snapshot_minute") === m).drop("snapshot_minute"), attrs, algo)
            results.add((m, preds, (System.nanoTime() - w0) / 1e9))
          }
        } finally batch.unpersist()
        ()
      }
      .start()
    query.processAllAvailable()
    val wall = (System.nanoTime() - t0) / 1e9
    query.stop()

    // batch engine on the batch-computed snapshot of each emitted minute
    val staticSnaps = graft.streaming.StreamingForecast
      .anomalySnapshots(static, attrs, periods)
      .persist()
    val windowResults = results.toArray(Array.empty[(Long, Seq[String], Double)])
      .toSeq.sortBy(_._1).map { case (m, streamPreds, lat) =>
        val bp = localizeSnapshot(
          staticSnaps.filter(col("snapshot_minute") === m).drop("snapshot_minute"), attrs, algo)
        WindowResult(m, streamPreds, bp, lat)
      }
    staticSnaps.unpersist()

    try {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(work)).iterator().asScala
        .toSeq.reverse.foreach(p => java.nio.file.Files.deleteIfExists(p))
    } catch { case _: Throwable => () }

    (windowResults, wall, inputRows)
  }

  def main(args: Array[String]): Unit = {
    val dims = args.lift(0).map(_.split(',').toSeq.map(s => (s.take(1), s.drop(1).toInt)))
      .getOrElse(Seq("a" -> 10, "b" -> 5, "c" -> 250, "d" -> 20))
    val minutes = args.lift(1).map(_.toInt).getOrElse(96)
    val spikeEvery = args.lift(2).map(_.toInt).getOrElse(8)
    val outMd = args.lift(3).getOrElse("STREAM_LOCALIZE.md")
    val algo = args.lift(4).getOrElse("adtributor")
    val spark = graft.core.Sessions.local(graft.core.Sessions.cpus, "64", "graft-stream-localize")
    spark.sparkContext.setLogLevel("WARN")

    val (windows, wall, inputRows) = run(spark, dims, minutes, spikeEvery, algo = algo)
    val okCount = windows.count(_.ok)
    val withCause = windows.count(_.streamPreds.nonEmpty)
    val lats = windows.map(_.latencySec).sorted
    def pct(p: Double) = if (lats.isEmpty) 0.0 else lats((p * (lats.size - 1)).toInt)

    val md = new StringBuilder
    md ++= "# Streaming localization end-to-end at scale\n\n"
    md ++= s"Input: ${dims.map { case (n, c) => s"$n:$c" }.mkString(", ")} = "
    md ++= s"${dims.map(_._2.toLong).product} leaves x $minutes minutes = $inputRows raw rows, "
    md ++= "replayed minute-by-minute through `StreamingForecast.anomalySnapshots` "
    md ++= s"(sliding 5-minute windows, 2-minute watermark), with ${
      if (algo == "riskloc") "RiskLoc (iterative remove-and-repeat loop)"
      else "Adtributor (derived mode)"} "
    md ++= "run per completed window inside `foreachBatch` "
    md ++= s"(anomaly on a rotating layer-1 element every $spikeEvery minutes).\n\n"
    md ++= s"Per-window verification: the batch engine's ${
      if (algo == "riskloc") "RiskLoc" else "Adtributor"} on the batch-computed\n"
    md ++= "snapshot of the same minute (anomalySnapshots over the static frame).\n\n"
    md ++= "| metric | value |\n|---|---|\n"
    md ++= s"| emitted windows localized | ${windows.size} |\n"
    md ++= s"| stream preds == batch preds | $okCount/${windows.size} |\n"
    md ++= s"| windows with a located cause | $withCause |\n"
    md ++= f"| per-window localization latency p50 (s) | ${pct(0.5)}%.2f |\n"
    md ++= f"| per-window localization latency p95 (s) | ${pct(0.95)}%.2f |\n"
    md ++= f"| end-to-end wall incl. localization (s) | $wall%.1f |\n"
    md ++= f"| sustained throughput incl. localization (rows/s) | ${inputRows / wall}%.0f |\n"
    md ++= "\nSample windows (minute offset, stream predictions, match):\n\n"
    md ++= "| minute | stream predictions | batch == stream |\n|---|---|---|\n"
    windows.filter(_.streamPreds.nonEmpty).take(12).foreach { w =>
      md ++= s"| ${(w.minute - 1700000040L) / 60} | ${w.streamPreds.mkString("; ")} | ${if (w.ok) "yes" else "NO"} |\n"
    }
    md ++= "\nDriver state is bounded by the per-window candidate summaries; per-window\n"
    md ++= "latency is steady-state (nothing grows with minutes streamed). StreamLocalizeSpec\n"
    md ++= "pins window-prediction parity at toy size on every test run.\n"
    java.nio.file.Files.write(java.nio.file.Paths.get(outMd), md.toString.getBytes("UTF-8"))
    println(s"wrote $outMd")
    println(f"windows=${windows.size} ok=$okCount withCause=$withCause " +
      f"p50=${pct(0.5)}%.2fs p95=${pct(0.95)}%.2fs wall=$wall%.1fs")
    spark.stop()
    if (okCount != windows.size) sys.exit(1)
  }
}
