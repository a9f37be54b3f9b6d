package graft.streaming

import java.nio.file.Files
import graft.pipeline.{SparkSuite, Transcripts}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSuite {

  /** The streamed parse: `parseTurns` over a `readStream` of transcript
    * parquet files into an append-mode parquet sink. */
  private def runParseStream(input: String, out: String, checkpoint: String) =
    graft.pipeline.ParseStage.parseTurns(spark.readStream
        .schema("conv_id STRING, turn_idx INT, role STRING, text STRING, tool STRING, ts TIMESTAMP")
        .parquet(input))
      .writeStream
      .format("parquet")
      .option("path", s"$out/data")
      .option("checkpointLocation", checkpoint)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()

  test("streaming parse: file-source micro-batches produce the batch result") {
    val tmp = Files.createTempDirectory("graft_stream").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"

    // Stage the transcript corpus as the streamed input.
    Transcripts.transcripts(spark, sfDir)
      .filter(col("turn_idx") % 2 === 0)
      .write.parquet(input)

    val q = runParseStream(input, out, ckpt)
    q.awaitTermination(120000)

    val streamed = spark.read.parquet(s"$out/data")
    // the corpus seeds doc_id % 65 == 63 as malformed: the error channel
    // must surface exactly those through the stream, same as in batch
    val expectedErrors = Transcripts.documents(spark, sfDir)
      .filter(col("doc_id") % Transcripts.MalformedMod === Transcripts.MalformedRem).count()
    assert(expectedErrors > 0)
    assert(streamed.filter(col("error").isNotNull).count() == expectedErrors)
    val batch = graft.pipeline.ParseStage.parsedTranscripts(spark, sfDir)
    assert(streamed.filter(col("error").isNull).count() == batch.filter(col("error").isNull).count())
    // exactness: same multiset of (subj, pred, obj)
    val a = streamed.select("subj", "pred", "obj")
    val b = batch.select("subj", "pred", "obj")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("stateful mapGroupsWithState accumulates per-conversation progress across micro-batches") {
    import spark.implicits._
    val tmp = Files.createTempDirectory("graft_stream3").toString
    val input = s"$tmp/input"
    // two separate files → two micro-batches (maxFilesPerTrigger=1), so the
    // same conversation's state must carry across batches
    Seq(("c1", 0), ("c1", 1), ("c2", 0)).toDF("conv_id", "turn_idx")
      .withColumn("role", lit("user")).withColumn("text", lit("t"))
      .withColumn("tool", lit(null: String)).withColumn("ts", current_timestamp())
      .coalesce(1).write.parquet(s"$input/f1")
    Seq(("c1", 2), ("c2", 5)).toDF("conv_id", "turn_idx")
      .withColumn("role", lit("user")).withColumn("text", lit("t"))
      .withColumn("tool", lit(null: String)).withColumn("ts", current_timestamp())
      .coalesce(1).write.parquet(s"$input/f2")

    val q = StreamingParse.conversationProgress(spark, s"$input/*")
      .writeStream.format("memory").queryName("conv_progress")
      .outputMode("update")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // the latest update per conversation reflects cumulative state
    val rows = spark.table("conv_progress").as[(String, Long, Int)].collect()
    val byConv = rows.groupBy(_._1)
    assert(byConv("c1").map(_._2).max == 3 && byConv("c1").map(_._3).max == 2)
    assert(byConv("c2").map(_._2).max == 2 && byConv("c2").map(_._3).max == 5)
  }

  test("rdfxml DSv2 streaming read: two micro-batches equal the batch read; resume is exactly-once") {
    val tmp = Files.createTempDirectory("graft_stream_dsv2").toString
    val input = s"$tmp/input"
    val ckpt = s"$tmp/ckpt"
    new java.io.File(input).mkdirs()
    def writeDoc(name: String, about: String): Unit = {
      val xml = s"""<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/$about">
        |    <ex:name>$about</ex:name>
        |    <ex:knows rdf:nodeID="x"/>
        |  </rdf:Description>
        |</rdf:RDF>""".stripMargin
      Files.write(java.nio.file.Paths.get(input, name), xml.getBytes("UTF-8"))
    }
    val out = s"$tmp/out"
    def runOnce(): Unit = {
      // parquet sink: the one sink kind that supports checkpoint RESUME
      // (memory sinks refuse recovery), which is exactly what this pins
      val q = graft.sources.RdfXmlFiles.stream(spark, input)
        .writeStream.format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }

    writeDoc("d1.rdf", "alice")
    runOnce()
    assert(spark.read.parquet(out).count() == 2, "first micro-batch parses the first document")

    // second file arrives; restart from the same checkpoint. With it comes
    // a file whose mtime is 8 days older than d1's: a late arrival is still
    // read (no file-age eviction; Spark's default maxFileAge is 7 days)
    writeDoc("d2.rdf", "bob")
    writeDoc("d0.rdf", "carol")
    val d1Time = new java.io.File(input, "d1.rdf").lastModified()
    assert(new java.io.File(input, "d0.rdf").setLastModified(d1Time - 8L * 24 * 3600 * 1000))
    runOnce()
    val streamed = spark.read.parquet(out)
    // resume replays only the NEW files — d1 was committed in the first run
    assert(streamed.filter(col("path").endsWith("d1.rdf")).count() == 2,
      "resume must not re-emit committed files")
    assert(streamed.filter(col("path").endsWith("d0.rdf")).count() == 2,
      "a late file with an old mtime must still be parsed")
    assert(streamed.count() == 6)

    // the streamed total equals the batch read (same source, same schema)
    val batch = graft.sources.RdfXmlFiles.read(spark, input)
    assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
  }

  test("rdfxml DSv2 streaming read: maxFilesPerTrigger drains a backlog in bounded batches") {
    val tmp = Files.createTempDirectory("graft_stream_rate").toString
    val input = s"$tmp/input"
    new java.io.File(input).mkdirs()
    for (i <- 1 to 5) {
      val xml = s"""<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
        |  <rdf:Description rdf:about="http://example.org/d$i"><ex:n>$i</ex:n></rdf:Description>
        |</rdf:RDF>""".stripMargin
      Files.write(java.nio.file.Paths.get(input, f"d$i%02d.rdf"), xml.getBytes("UTF-8"))
    }
    val q = graft.sources.RdfXmlFiles.stream(spark, input, maxFilesPerTrigger = 2)
      .writeStream.format("memory").queryName("graft_rate")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)
    // the whole backlog drains (AvailableNow keeps triggering until the
    // offset stops advancing), but in ≥ 3 bounded batches, not one
    assert(spark.sql("select * from graft_rate").count() == 5)
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, batches.map(_.numInputRows).mkString(","))
  }

  test("rdfxml DSv2 streaming read: gzip documents decompress through the shared reader") {
    val tmp = Files.createTempDirectory("graft_stream_gz").toString
    val input = s"$tmp/input"
    new java.io.File(input).mkdirs()
    val xml = """<?xml version="1.0"?>
      |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://example.org/">
      |  <rdf:Description rdf:about="http://example.org/z"><ex:name>z</ex:name></rdf:Description>
      |</rdf:RDF>""".stripMargin
    val out = new java.util.zip.GZIPOutputStream(
      java.nio.file.Files.newOutputStream(java.nio.file.Paths.get(input, "z.rdf.gz")))
    out.write(xml.getBytes("UTF-8")); out.close()
    val q = graft.sources.RdfXmlFiles.stream(spark, input)
      .writeStream.format("memory").queryName("graft_gz")
      .option("checkpointLocation", s"$tmp/ckpt")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000)
    val rows = spark.sql("select subj, pred, obj from graft_gz").collect()
    assert(rows.length == 1 && rows.head.getString(2) == "\"z\"")
  }

  test("streaming resume: restart from checkpoint does not duplicate output") {
    val tmp = Files.createTempDirectory("graft_stream2").toString
    val input = s"$tmp/input"
    val out = s"$tmp/out"
    val ckpt = s"$tmp/ckpt"
    Transcripts.transcripts(spark, sfDir)
      .filter(col("turn_idx") % 2 === 0).limit(50)
      .write.parquet(input)

    runParseStream(input, out, ckpt).awaitTermination(120000)
    val n1 = spark.read.parquet(s"$out/data").count()
    // Restart with the same checkpoint: AvailableNow sees no new files.
    runParseStream(input, out, ckpt).awaitTermination(120000)
    val n2 = spark.read.parquet(s"$out/data").count()
    assert(n1 == n2, "restart must be exactly-once, not re-emit")
  }

  private def tsAt(min: Int): java.sql.Timestamp =
    java.sql.Timestamp.valueOf(java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusMinutes(min.toLong))

  test("stream-stream interval join: purchases attribute to clicks in the horizon, not beyond") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val clicks = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val purchases = MemoryStream[(Long, java.sql.Timestamp, Long, Double)]
    val joined = StreamingJoins.clickAttribution(
      clicks.toDF().toDF("user_id", "ts", "event_id"),
      purchases.toDF().toDF("user_id", "ts", "event_id", "value"),
      watermark = "10 minutes", horizonMinutes = 30)
    val q = joined.writeStream.format("memory").queryName("attr").outputMode("append").start()
    try {
      clicks.addData((1L, tsAt(0), 100L), (1L, tsAt(5), 101L), (2L, tsAt(0), 102L))
      // user 1: purchase 20 min after the clicks (inside the 30-min horizon);
      // user 2: purchase 40 min after its click (outside) — must NOT match
      purchases.addData((1L, tsAt(20), 200L, 9.5), (2L, tsAt(40), 201L, 1.0))
      q.processAllAvailable()
      val got = spark.table("attr").select("user_id", "click_id", "purchase_id")
        .as[(Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 100L, 200L), (1L, 101L, 200L)))
    } finally q.stop()
  }

  test("event-time sessionization: runs seal only when the watermark passes end+gap") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = StreamingJoins.sessionize(spark, ev.toDF().toDF("user_id", "ts"),
      gapMinutes = 10, watermark = "0 seconds")
    val q = sess.writeStream.format("memory").queryName("sess").outputMode("append").start()
    try {
      def emitted = spark.table("sess")
        .as[SessionOut].collect().map(s =>
          (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)).toSet
      def at(min: Int) = tsAt(min).getTime

      ev.addData((1L, tsAt(0)), (1L, tsAt(5)))
      q.processAllAvailable()
      assert(emitted.isEmpty, "open session must not emit")

      // the 55-min overshoot splits the runs; the event advances the
      // watermark to 60 min and the engine's trailing no-data batch fires
      // the timeout, sealing [0,5] (end+gap=15 <= 60). [60,60] (sealable
      // at 70) stays open — a late event could still extend it.
      ev.addData((1L, tsAt(60)))
      q.processAllAvailable()
      assert(emitted == Set((1L, at(0), at(5), 2L)))

      // other-key traffic pushes the watermark to 120 min: the timeout
      // seals [60,60] with no further user-1 data
      ev.addData((2L, tsAt(120)))
      q.processAllAvailable()
      assert(emitted == Set((1L, at(0), at(5), 2L), (1L, at(60), at(60), 1L)))

      // and the still-open user-2 run emits nothing
      ev.addData((2L, tsAt(130)))
      q.processAllAvailable()
      assert(emitted == Set((1L, at(0), at(5), 2L), (1L, at(60), at(60), 1L)))
    } finally q.stop()
  }

  test("event-time sessionization: an admissible late event merges backward into the open run") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val ev = MemoryStream[(Long, java.sql.Timestamp)]
    val sess = StreamingJoins.sessionize(spark, ev.toDF().toDF("user_id", "ts"),
      gapMinutes = 10, watermark = "10 minutes")
    val q = sess.writeStream.format("memory").queryName("sess_late").outputMode("append").start()
    try {
      def emitted = spark.table("sess_late")
        .as[SessionOut].collect().map(s =>
          (s.user_id, s.session_start.getTime, s.session_end.getTime, s.n_events)).toSet
      def at(min: Int) = tsAt(min).getTime

      ev.addData((3L, tsAt(30)))
      q.processAllAvailable()
      // watermark is now 20 min; an event at 25 min is LATE but admissible
      // (inside the 10-min delay) and 5 min BEFORE the run's start — it
      // must pull session_start back, not corrupt the run or be dropped
      ev.addData((3L, tsAt(25)))
      q.processAllAvailable()
      ev.addData((4L, tsAt(120)))
      q.processAllAvailable()
      ev.addData((4L, tsAt(125)))
      q.processAllAvailable()
      assert(emitted == Set((3L, at(25), at(30), 2L)))
    } finally q.stop()
  }

  test("streaming dedup within watermark: duplicates in-horizon drop, evicted keys re-emit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val docs = MemoryStream[(Long, java.sql.Timestamp, Long)]
    val deduped = StreamingJoins.dedupWithinWatermark(
      docs.toDF().toDF("fingerprint", "ts", "doc_id"),
      keyCols = Seq("fingerprint"), watermark = "10 minutes")
    val q = deduped.writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    try {
      def emitted = spark.table("sdedup")
        .select("fingerprint", "doc_id").as[(Long, Long)].collect().toSeq

      // duplicates within one batch and across adjacent batches (all well
      // inside the 10-min horizon) collapse to the first occurrence
      docs.addData((1L, tsAt(0), 10L), (1L, tsAt(1), 11L), (2L, tsAt(0), 12L))
      q.processAllAvailable()
      docs.addData((1L, tsAt(5), 13L))
      q.processAllAvailable()
      assert(emitted.map(_._1).sorted == Seq(1L, 2L))
      assert(emitted.toSet == Set((1L, 10L), (2L, 12L)))

      // advance the watermark far past fingerprint 1's expiry (event time
      // + delay), evicting its state ...
      docs.addData((3L, tsAt(100), 14L))
      q.processAllAvailable()
      // ... so a re-occurrence after eviction re-emits: the horizon
      // contract, not unbounded global history
      docs.addData((1L, tsAt(95), 15L))
      q.processAllAvailable()
      assert(emitted.toSet == Set((1L, 10L), (2L, 12L), (3L, 14L), (1L, 15L)))
    } finally q.stop()
  }
}
