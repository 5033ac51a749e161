package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.operators.Multimodal
import graft.streaming.EventsStreaming

class MultimodalStreamingSpec extends SparkTestBase {
  import spark.implicits._

  test("attachPayload builds binary column + typed metadata struct") {
    val df = Multimodal.attachPayload(
      Seq((1L, "hello")).toDF("doc_id", "text"), "text", "image/png")
    val r = df.select($"payload", $"media_meta.media_type",
      $"media_meta.byte_len", $"media_meta.checksum").collect()(0)
    assert(new String(r.getAs[Array[Byte]](0), "UTF-8") == "hello")
    assert(r.getString(1) == "image/png")
    assert(r.getLong(2) == 5L)
    assert(r.getString(3).length == 32)
  }

  test("featurize decodes real PNG payloads batch-wise in mapPartitions") {
    import graft.operators.MediaCodec
    val rows = Seq(
      (1L, MediaCodec.pngEncodeSolid(7, 3, 10, 20, 30)),
      (2L, MediaCodec.pngEncodeSolid(4, 9, 200, 100, 0)),
      (3L, "definitely not an image".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "payload")
      .withColumn("media_meta", struct(
        lit("image/png").as("media_type"),
        octet_length($"payload").cast("long").as("byte_len"),
        md5($"payload").as("checksum")))
    val feats = Multimodal.featurize(df, "doc_id", batchSize = 2)
      .collect().sortBy(_.doc_id)
    assert(feats.length == 3)
    assert(feats(0).width == 7 && feats(0).height == 3)
    assert(feats(0).feature.toSeq == Seq(10f, 20f, 30f))
    assert(feats(1).width == 4 && feats(1).height == 9)
    assert(feats(1).feature.toSeq == Seq(200f, 100f, 0f))
    // unrecognized bytes degrade instead of failing the batch
    assert(feats(2).width == 0 && feats(2).height == 0 &&
      feats(2).n_frames == 0 && feats(2).feature.isEmpty)
  }

  test("featurizeVideo demuxes AVI and decodes every stride-th frame") {
    import graft.operators.MediaCodec
    // 5 frames, stride 2 -> samples frames 0,2,4 with colors 0/20/40 etc
    val avi = MediaCodec.aviEncodeMpng(6, 4, 25,
      Array.tabulate(5)(i => MediaCodec.pngEncodeSolid(6, 4, i * 10, 0, 255)))
    val rows = Seq((1L, avi), (2L, "not a container".getBytes("UTF-8")))
    val df = rows.toDF("doc_id", "payload")
      .withColumn("media_meta", struct(
        lit("video/avi").as("media_type"),
        octet_length($"payload").cast("long").as("byte_len"),
        md5($"payload").as("checksum")))
    val feats = Multimodal.featurizeVideo(df, "doc_id", frameStride = 2,
      batchSize = 2).collect().sortBy(_.doc_id)
    assert(feats(0).width == 6 && feats(0).height == 4 && feats(0).fps == 25)
    assert(feats(0).n_frames == 5 && feats(0).n_sampled == 3)
    // mean over frames 0,2,4: r = (0+20+40)/3 = 20, g = 0, b = 255
    assert(feats(0).feature.toSeq == Seq(20f, 0f, 255f))
    // non-AVI bytes degrade to the all-zero row, never fail the batch
    assert(feats(1).n_frames == 0 && feats(1).feature.isEmpty)
  }

  test("featurizeVideo: undecodable frames degrade to container metadata") {
    import graft.operators.MediaCodec
    val avi = MediaCodec.aviEncodeMpng(3, 3, 10,
      Array("fake mjpeg frame".getBytes("UTF-8")))
    val df = Seq((9L, avi)).toDF("doc_id", "payload")
      .withColumn("media_meta", struct(
        lit("video/avi").as("media_type"),
        octet_length($"payload").cast("long").as("byte_len"),
        md5($"payload").as("checksum")))
    val f = Multimodal.featurizeVideo(df, "doc_id").collect()(0)
    assert(f.width == 3 && f.height == 3 && f.fps == 10 && f.n_frames == 1)
    assert(f.feature.isEmpty) // meta survives, pixels honestly absent
  }

  test("distinctUsersPerWindow batch collapse equals the SQL-expression " +
      "sketch exactly (JVM md5 registers ≡ Sketches family)") {
    import spark.implicits._
    val rows = (0 until 300).map { i =>
      (java.sql.Timestamp.valueOf(f"2024-01-01 00:${i % 60}%02d:00"),
        (i % 173).toLong)
    }
    val events = rows.toDF("ts", "user_id")
    val viaAgg = graft.streaming.EventsStreaming
      .distinctUsersPerWindow(events, windowLen = "1 hour", m = 512)
      .select("est_users").as[Double].head()
    val viaSql = graft.operators.Sketches.hllEstimate(
        graft.operators.Sketches.hllSketch(
          events.select(col("user_id").cast("string").as("k")), "k",
          m = 512))
      .select("est").as[Double].head()
    // EXACT equality: identical registers (same md5 prefix family),
    // order-exact dyadic sum, same ln on the same JVM
    assert(viaAgg == viaSql,
      s"aggregator estimate $viaAgg != SQL-expression estimate $viaSql")
  }

  test("streaming distinctUsersPerWindow equals its batch collapse " +
      "across multiple micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val events = mem.toDF().toDF("ts", "user_id")
    val q = graft.streaming.EventsStreaming
      .distinctUsersPerWindow(events, windowLen = "1 hour", m = 64)
      .writeStream.format("memory").queryName("hll_test")
      .outputMode("complete").start()
    try {
      def ts(h: Int, m: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      // users split across micro-batches WITH cross-batch repeats: the
      // register state must merge, not recount
      val batch1 = (0 until 40).map(u => (ts(0, u % 60), u.toLong))
      val batch2 = (20 until 70).map(u => (ts(0, u % 60), u.toLong)) ++
        (0 until 10).map(u => (ts(1, u), (1000 + u).toLong))
      mem.addData(batch1: _*)
      q.processAllAvailable()
      mem.addData(batch2: _*)
      q.processAllAvailable()
      val streamed = spark.sql(
          "select window_start, est_users from hll_test")
        .as[(java.sql.Timestamp, Double)].collect().toMap
      val batch = graft.streaming.EventsStreaming
        .distinctUsersPerWindow((batch1 ++ batch2).toDF("ts", "user_id"),
          windowLen = "1 hour", m = 64)
        .as[(java.sql.Timestamp, Double)].collect().toMap
      assert(streamed == batch,
        s"stream $streamed diverged from batch collapse $batch")
      assert(streamed.size == 2)
    } finally q.stop()
  }

  test("stream-stream purchase attribution joins views within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, java.sql.Timestamp, Long, String, Double)]
    val events = mem.toDF()
      .toDF("event_id", "ts", "user_id", "event_type", "value")
    val joined = EventsStreaming.purchaseAttribution(events,
      horizon = "1 hour", watermark = "2 hours")
    val q = joined.writeStream.format("memory").queryName("attr_test")
      .outputMode("append").start()
    try {
      def ts(h: Int, m: Int) =
        java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
      mem.addData(
        (1L, ts(9, 0), 7L, "view", 0.0),      // in horizon of purchase
        (2L, ts(8, 0), 7L, "view", 0.0),      // 1h35 before -> outside
        (3L, ts(9, 30), 8L, "view", 0.0),     // other user
        (4L, ts(9, 35), 7L, "purchase", 10.0))
      q.processAllAvailable()
      // advance watermark far enough to flush and close join state
      mem.addData((99L, ts(13, 0), 9L, "view", 0.0))
      q.processAllAvailable()
      val rows = spark.sql(
        "select purchase_id, view_id from attr_test order by view_id")
        .collect()
      assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
        Seq((4L, 1L)))
    } finally q.stop()
  }
}
