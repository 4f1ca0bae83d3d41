package graft

import graft.streaming.StreamingForecast
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Structured-Streaming trailing forecast: the windowed aggregate must
  * reproduce the batch RS forecast semantics (mean of the previous 4
  * minutes per leaf) for completed windows. */
class StreamingForecastSpec extends AnyFunSuite with TestTimeLimit {
  private val spark = TestSpark.spark
  import spark.implicits._

  test("sliding-window trailing mean matches the batch forecast") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, Double, Double)]

    val base = 1699999980L // minute-aligned (windows snap to epoch minutes)
    // leaf A: failures 2,4,6,8 over minutes m0..m3 (cnt 10)
    val rows = (0 until 4).map(m =>
      (base + m * 60L, "A", 10.0 - 2.0 * (m + 1), 10.0)) :+
      ((base + 4 * 60L, "B", 9.0, 10.0)) // unrelated leaf later
    input.addData(rows: _*)

    val stream = input.toDF().toDF("epoch", "leaf", "value", "cnt")
      .withColumn("ts", col("epoch").cast("timestamp"))
    val forecast = StreamingForecast.trailingForecast(stream, Seq("leaf"), periods = 4)

    val query = forecast.writeStream
      .format("memory").queryName("fc").outputMode("append")
      .start()
    try {
      input.addData((base + 10 * 60L, "A", 10.0, 10.0)) // advance watermark
      query.processAllAvailable()
      val out = spark.table("fc")
        .select(col("leaf"), col("forecast_minute").cast("long").as("fm"),
          col("predict_a"), col("predict_b"), col("predict"))
        .collect()
      // the window covering exactly minutes m0..m3 forecasts base+240
      val a = out.find(r => r.getString(0) == "A" && r.getLong(1) == base + 240)
      assert(a.isDefined, out.mkString("; "))
      assert(a.get.getDouble(2) == 5.0) // mean failures (2+4+6+8)/4
      assert(a.get.getDouble(3) == 10.0)
      assert(math.abs(a.get.getDouble(4) - 0.5) < 1e-12) // mean k
    } finally query.stop()
  }

  test("streaming localization finds the anomalous element per minute") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(Long, String, String, Double, Double)]
    val base = 1699999980L
    // 4 history minutes + anomaly minute: dev2 failure spike at minute 4
    val rows = for {
      m <- 0 to 4
      d1 <- 0 until 4; d2 <- 0 until 3
    } yield {
      val cnt = 100.0
      val bad = d1 == 2 && m == 4
      val failures = if (bad) 60.0 else 3.0
      (base + m * 60L, s"dev$d1", s"isp$d2", cnt - failures, cnt)
    }
    input.addData(rows: _*)

    val stream = input.toDF().toDF("epoch", "dev", "isp", "value", "cnt")
      .withColumn("ts", col("epoch").cast("timestamp"))
    val snapshots = StreamingForecast.anomalySnapshots(stream, Seq("dev", "isp"))

    val found = collection.concurrent.TrieMap.empty[Long, Seq[String]]
    val query = StreamingForecast.localizeEachMinute(snapshots, (minute, snap) => {
      val preds = graft.algorithms.Adtributor.predictions(
        graft.algorithms.Adtributor.run(snap.cache(), Seq("dev", "isp")))
      found(minute) = preds
    }).start()
    try {
      input.addData((base + 10 * 60L, "dev0", "isp0", 97.0, 100.0)) // advance watermark
      query.processAllAvailable()
      val anomalyMinute = base + 4 * 60
      assert(found.contains(anomalyMinute), found.keySet.toString)
      assert(found(anomalyMinute).exists(_.contains("dev=dev2")), found.toString)
    } finally query.stop()
  }
}
