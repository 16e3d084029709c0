package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.nhl.{Ingest, Schemas}
import graft.streaming.{IncrementalLoad, StatefulScd2}

/** Structured-Streaming COPY INTO semantics: exactly-once per staged
  * file via the checkpoint (SURVEY.md §2 row S7). */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  private val fx = s"${TestSpark.fixtures}/streaming_${System.nanoTime()}"

  private def write(path: String, content: String): Unit = {
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.writeString(p, content)
  }

  private val transform: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
    df => df.select(
      trim(col("_c0")).as("game_date"),
      trim(col("_c2")).as("visitor"),
      trim(col("_c4")).as("home"))

  test("AvailableNow drains staged files once; replays are no-ops") {
    val src = s"$fx/src"; val tgt = s"$fx/tgt"; val ckp = s"$fx/ckp"
    write(s"$src/a.csv", "2024-01-01,7:00,A,1,B,2,,100,2:10,\n")
    val q1 = IncrementalLoad.runCsv(spark, Schemas.gamesCsv, src, tgt, ckp, transform)
    q1.awaitTermination()
    assert(spark.read.parquet(tgt).count() == 1)

    // re-run with no new files: checkpoint suppresses everything
    val q2 = IncrementalLoad.runCsv(spark, Schemas.gamesCsv, src, tgt, ckp, transform)
    q2.awaitTermination()
    assert(spark.read.parquet(tgt).count() == 1)

    // new file arrives: only it is ingested
    write(s"$src/b.csv", "2024-01-02,7:00,C,3,D,4,,200,2:20,\n")
    val q3 = IncrementalLoad.runCsv(spark, Schemas.gamesCsv, src, tgt, ckp, transform)
    q3.awaitTermination()
    val rows = spark.read.parquet(tgt)
    assert(rows.count() == 2)
    assert(rows.filter(col("visitor") === "C").count() == 1)
  }

  test("backfill rate limiting: a multi-wave backlog drains as >= 3 " +
      "BOUNDED micro-batches under maxFilesPerTrigger, exactly-once " +
      "holds across batch boundaries, content == the unbounded run " +
      "(round-13 verdict item 7)") {
    val src = s"$fx/bf_src"
    (1 to 6).foreach { i =>
      write(s"$src/f$i.csv", s"2024-01-0$i,7:00,V$i,1,H$i,2,,100,2:10,\n")
    }
    // bounded drain: 2 files per trigger over a 6-file backlog
    val tgtB = s"$fx/bf_tgt_b"; val ckpB = s"$fx/bf_ckp_b"
    val q = IncrementalLoad.runCsv(spark, Schemas.gamesCsv, src, tgtB,
      ckpB, transform, maxFilesPerTrigger = Some(2))
    q.awaitTermination()
    val batches = q.recentProgress.toSeq.filter(_.numInputRows > 0)
    assert(batches.size >= 3,
      s"6-file backlog at 2 files/trigger must land as >= 3 batches, " +
        s"got ${batches.map(_.numInputRows).mkString(",")}")
    assert(batches.forall(_.numInputRows <= 2),
      "every micro-batch must respect the file cap (1 row per file): " +
        batches.map(_.numInputRows).mkString(","))
    // the same backlog drained unbounded: identical content
    val tgtU = s"$fx/bf_tgt_u"
    val qU = IncrementalLoad.runCsv(spark, Schemas.gamesCsv, src, tgtU,
      s"$fx/bf_ckp_u", transform)
    qU.awaitTermination()
    def rows(p: String) = spark.read.parquet(p)
      .collect().map(_.toSeq).sortBy(_.mkString(",")).toSeq
    assert(rows(tgtB) == rows(tgtU),
      "bounded and unbounded drains must produce identical tables")
    // replaying the bounded pipeline: the checkpoint suppresses all 6
    val q2 = IncrementalLoad.runCsv(spark, Schemas.gamesCsv, src, tgtB,
      ckpB, transform, maxFilesPerTrigger = Some(2))
    q2.awaitTermination()
    assert(spark.read.parquet(tgtB).count() == 6,
      "replay after a bounded drain must be a no-op")
  }

  test("stateful flatMapGroupsWithState sessions == batch closed sessions") {
    import graft.streaming.StatefulSessions
    val srcDir = s"$fx/events_state_src"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val schema = spark.read.parquet(srcDir).schema
    val stream = Tables.withTsNs(
      spark.readStream.schema(schema).parquet(srcDir))
    val sessions = StatefulSessions.sessionize(spark,
      StatefulSessions.fromRaw(spark, stream))
    val name = s"sess_${System.nanoTime()}"
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    // batch gaps-and-islands over the same data; the stream never
    // closes each user's LAST session (it stays in state), so compare
    // against batch sessions minus the per-user last one.
    val batchAll = graft.ops.Sessionize
      .sessionize(Tables.eventsNs(spark, "/root/testdata/sf0.001"))
    val lastSeq = batchAll.groupBy("user_id")
      .agg(max("session_seq").as("session_seq"))
    val batchClosed = batchAll.join(lastSeq, Seq("user_id", "session_seq"),
        "left_anti")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batchClosed).count() == 0)
    assert(batchClosed.exceptAll(streamed).count() == 0)
  }

  test("streaming dropDuplicates on content key: replayed rows collapse (A3 streaming)") {
    // the streaming form of the md5 content-key dedup: the same file
    // staged twice under different names must load its rows once
    val src = s"$fx/dedup_src"; val ckp = s"$fx/dedup_ckp"
    val row = "2024-01-01,7:00,A,1,B,2,,100,2:10,\n"
    write(s"$src/a.csv", row)
    write(s"$src/b.csv", row) // replayed content, different file
    val stream = spark.readStream.schema(graft.nhl.Schemas.gamesCsv).csv(src)
    val deduped = stream
      .select(md5(concat_ws("|", col("_c0"), col("_c2"), col("_c4"))).as("unique_key"),
        col("_c0").as("game_date"))
      .dropDuplicates("unique_key")
    val name = s"dedup_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    assert(spark.table(name).count() == 1)
  }

  test("transformWithState dedup == batch min-id dedup (first batch wins)") {
    import graft.streaming.StatefulDedup
    import spark.implicits._
    // 3 distinct keys, planted duplicates within and across files
    val src = s"$fx/tws_src"; val ckp = s"$fx/tws_ckp"
    write(s"$src/a.jsonl",
      """{"key":"k1","doc_id":5,"text":"x"}
        |{"key":"k1","doc_id":2,"text":"x"}
        |{"key":"k2","doc_id":7,"text":"y"}
        |""".stripMargin)
    write(s"$src/b.jsonl",
      """{"key":"k2","doc_id":1,"text":"y"}
        |{"key":"k3","doc_id":9,"text":"z"}
        |""".stripMargin)
    // transformWithState requires the RocksDB state store provider
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val out = s"$fx/tws_out"
      // parquet sink (memory sink cannot recover from a checkpoint);
      // ZERO ttl -> TimeMode.None: a bounded replay drains under
      // AvailableNow (a TTL'd ProcessingTime query would keep
      // scheduling micro-batches forever — see StatefulDedup doc)
      def run(): Unit = {
        val stream = spark.readStream
          .schema("key STRING, doc_id LONG, text STRING")
          .json(src).as[StatefulDedup.Doc]
        val q = StatefulDedup.dedup(stream, java.time.Duration.ZERO)
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .option("checkpointLocation", ckp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      run()
      def survivors() = spark.read.parquet(out).as[StatefulDedup.Doc]
        .collect().map(dd => dd.key -> dd.doc_id).toMap
      // one survivor per key, the min doc_id of the (single) batch
      assert(survivors() == Map("k1" -> 2L, "k2" -> 1L, "k3" -> 9L))

      // replay with the same checkpoint: only the new file is read,
      // k1's duplicate is dropped by the RocksDB-stored state, and
      // only the new key k4 is admitted
      write(s"$src/c.jsonl",
        """{"key":"k1","doc_id":100,"text":"x"}
          |{"key":"k4","doc_id":3,"text":"w"}
          |""".stripMargin)
      run()
      assert(survivors() ==
        Map("k1" -> 2L, "k2" -> 1L, "k3" -> 9L, "k4" -> 3L))
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming near-dup candidates: new×stored across batches, re-delivery no-op") {
    import graft.streaming.StatefulNearDup
    import spark.implicits._
    val src = s"$fx/nd_src"; val ckp = s"$fx/nd_ckp"; val out = s"$fx/nd_out"
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      def run(): Unit = {
        val stream = spark.readStream
          .schema("key STRING, doc_id LONG")
          .json(src).as[StatefulNearDup.BandRow]
        val q = StatefulNearDup.candidates(stream, java.time.Duration.ZERO)
          .writeStream.outputMode("append")
          .format("parquet").option("path", out)
          .option("checkpointLocation", ckp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def pairs() = spark.read.parquet(out).as[StatefulNearDup.CandPair]
        .collect().map(p => (p.id_a, p.id_b)).toSeq
      // batch 1: docs 1,2 share bucket b1; doc 9 alone in b2
      write(s"$src/a.jsonl",
        """{"key":"b1","doc_id":1}
          |{"key":"b1","doc_id":2}
          |{"key":"b2","doc_id":9}
          |""".stripMargin)
      run()
      assert(pairs().sorted == Seq((1L, 2L)))
      // batch 2: doc 3 joins b1 (pairs with stored 1 and 2, and 1-2 is
      // NOT re-emitted), doc 4 joins b2, doc 1 is RE-DELIVERED to b1
      // (no-op: already stored)
      write(s"$src/b.jsonl",
        """{"key":"b1","doc_id":3}
          |{"key":"b2","doc_id":4}
          |{"key":"b1","doc_id":1}
          |""".stripMargin)
      run()
      assert(pairs().sorted == Seq((1L, 3L), (2L, 3L), (4L, 9L)).++(Seq((1L, 2L))).sorted)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("maxBucket cap: a planted hot bucket emits exactly cap-bounded pairs") {
    import graft.streaming.StatefulNearDup
    import spark.implicits._
    // batch execution (same code path as x2_stream_neardup): a hot
    // bucket with 6 members under cap 3 admits the 3 lowest ids —
    // 3 pairs, 3 drops — while a cold bucket is untouched
    val acc = spark.sparkContext.longAccumulator("capped")
    val rows = ((1L to 6L).map(i => StatefulNearDup.BandRow("hot", i)) :+
      StatefulNearDup.BandRow("cold", 10L) :+
      StatefulNearDup.BandRow("cold", 11L)).toDS()
    val out = StatefulNearDup.candidates(rows, java.time.Duration.ZERO,
        maxBucket = 3, capped = Some(acc))
      .collect().map(p => (p.id_a, p.id_b)).sorted
    assert(out.toSeq == Seq((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L)))
    assert(acc.value == 3L)

    // across micro-batches: a bucket saturated in batch 1 drops every
    // later arrival (no pairs, no state growth)
    val src = s"$fx/cap_src"; val ckp = s"$fx/cap_ckp"; val outP = s"$fx/cap_out"
    val prevProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val acc2 = spark.sparkContext.longAccumulator("capped_stream")
      def run(): Unit = {
        val stream = spark.readStream
          .schema("key STRING, doc_id LONG")
          .json(src).as[StatefulNearDup.BandRow]
        val q = StatefulNearDup.candidates(stream, java.time.Duration.ZERO,
            maxBucket = 2, capped = Some(acc2))
          .writeStream.outputMode("append")
          .format("parquet").option("path", outP)
          .option("checkpointLocation", ckp)
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      def pairs() = spark.read.parquet(outP).as[StatefulNearDup.CandPair]
        .collect().map(p => (p.id_a, p.id_b)).toSeq.sorted
      write(s"$src/a.jsonl",
        """{"key":"b1","doc_id":1}
          |{"key":"b1","doc_id":2}
          |""".stripMargin)
      run()
      assert(pairs() == Seq((1L, 2L)))
      write(s"$src/b.jsonl",
        """{"key":"b1","doc_id":3}
          |{"key":"b1","doc_id":4}
          |""".stripMargin)
      run()
      assert(pairs() == Seq((1L, 2L))) // saturated: 3 and 4 dropped
      assert(acc2.value == 2L)
    } finally {
      prevProvider match {
        case Some(p) => spark.conf.set("spark.sql.streaming.stateStore.providerClass", p)
        case None => spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
      }
    }
  }

  test("streaming observe reports the A1 null gate per micro-batch") {
    val srcDir = s"$fx/events_obs_src"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val schema = spark.read.parquet(srcDir).schema
    val observed = graft.nhl.Quality.observeNullsStream(
      spark.readStream.schema(schema).parquet(srcDir),
      Seq("props", "event_type"))
    val q = observed.writeStream.format("noop")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val dq = q.recentProgress.toSeq
      .flatMap(p => Option(p.observedMetrics.get("dq")))
    assert(dq.nonEmpty)                        // metric rode the batch
    assert(dq.map(_.getAs[Long]("rows")).sum == 1000L)
    assert(dq.map(_.getAs[Long]("nulls_props")).sum == 0L)
    assert(dq.map(_.getAs[Long]("nulls_event_type")).sum == 0L)
  }

  test("stream-stream interval join matches the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = s"$fx/ssj_src_${System.nanoTime()}"
    Files.createDirectories(Paths.get(srcDir))
    val tgt = Paths.get(s"$srcDir/events.parquet")
    if (!Files.exists(tgt))
      Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"), tgt)
    val schema = spark.read.parquet(srcDir).schema
    def streamSide(t: String, u: String, tsName: String) =
      Tables.withTsNs(spark.readStream.schema(schema).parquet(srcDir))
        .filter(col("event_type") === t)
        .select(col("user_id").as(u),
          timestamp_micros(graft.ops.Sessionize.nsToUs(col("ts"))).as(tsName))
    val views = streamSide("view", "v_user", "view_ts")
      .withWatermark("view_ts", "1 hour")
    val clicks = streamSide("click", "c_user", "click_ts")
      .withWatermark("click_ts", "1 hour")
    // click within 30 minutes after a view by the same user
    val joined = views.join(clicks,
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
    val name = s"ssj_${System.nanoTime()}"
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    def batchSide(t: String, u: String, tsName: String) =
      Tables.withTsNs(spark.read.parquet(srcDir))
        .filter(col("event_type") === t)
        .select(col("user_id").as(u),
          timestamp_micros(graft.ops.Sessionize.nsToUs(col("ts"))).as(tsName))
    val batch = batchSide("view", "v_user", "view_ts").join(
      batchSide("click", "c_user", "click_ts"),
      col("v_user") === col("c_user") &&
        col("click_ts") >= col("view_ts") &&
        col("click_ts") <= col("view_ts") + expr("INTERVAL 30 MINUTES"))
    val streamed = spark.table(name)
    assert(streamed.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
  }

  test("watermarked windowed counts match the batch tumbling aggregate") {
    import org.apache.spark.sql.streaming.Trigger
    // streaming file source wants a directory of files
    val srcDir = s"$fx/events_src"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val schema = spark.read.parquet(srcDir).schema
    val stream = Tables.withTsNs(
      spark.readStream.schema(schema).parquet(srcDir))
    val agg = IncrementalLoad.windowedEventCounts(stream)
    val name = s"win_${System.nanoTime()}"
    // complete mode so every window is visible regardless of watermark
    val q = agg.writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n_events"))
    val batch = graft.ops.Sessionize
      .tumblingAgg(Tables.eventsNs(spark, "/root/testdata/sf0.001"),
        10L * 60 * 1000000)
      .select(col("window_start"), col("event_type"), col("n_events"))
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming session_window == batch session_window (sentinel closes all)") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = s"$fx/events_sw_src"
    Files.createDirectories(Paths.get(srcDir))
    // write the base events with ts normalized to BIGINT nanos — a raw
    // copy would mix a timestamp-typed file with the Long-ts sentinel
    // file below under one inferred schema
    Tables.eventsNs(spark, "/root/testdata/sf0.001")
      .coalesce(1).write.mode("overwrite").parquet(srcDir)
    // one far-future sentinel event per user: pushes the watermark past
    // every real session so append mode emits them all; the sentinel
    // sessions themselves stay open (nothing follows) and never emit
    val base = Tables.eventsNs(spark, "/root/testdata/sf0.001")
    val sentinelTs = base.agg(max(col("ts"))).head().getLong(0) +
      10L * 24 * 3600 * 1000000000L
    base.groupBy("user_id")
      .agg(max(col("event_id")).as("event_id"))
      .select(col("event_id") + 1000000L, lit(sentinelTs).as("ts"),
        col("user_id"), lit("sentinel").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .coalesce(1).write.mode("append").parquet(srcDir)
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
    val name = s"sw_${System.nanoTime()}"
    val q = IncrementalLoad.sessionWindows(stream)
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name)
      .filter(col("session_start_us") < sentinelTs / 1000)
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    val batch = SparkEntry.queries("x5_session_window")(
        spark, "/root/testdata/sf0.001")
      .select("user_id", "session_start_us", "session_end_us", "n_events")
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("stream-static binned range join matches the batch join") {
    import org.apache.spark.sql.streaming.Trigger
    // streaming points (event times) against a STATIC interval table —
    // the binned equi-join works unchanged on a stream because both
    // added columns (bin project, bin explode) are stateless
    val srcDir = s"$fx/events_rj_src"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val base = Tables.eventsNs(spark, "/root/testdata/sf0.001")
    val loHi = base.agg(min(col("ts")), max(col("ts"))).head()
    val (lo, hi) = (loHi.getLong(0), loHi.getLong(1))
    val hourNs = 3600L * 1000000000L
    // 6 disjoint 1-hour maintenance windows spread over the range
    val ivs = spark.range(6).select(
      col("id").as("win_id"),
      (lit(lo) + col("id") * ((hi - lo) / 6)).as("w_lo"))
      .withColumn("w_hi", col("w_lo") + hourNs)
    def joined(points: org.apache.spark.sql.DataFrame) =
      graft.ops.RangeJoin.pointInInterval(
          points.select(col("event_id"), col("ts")), "ts",
          ivs, "w_lo", "w_hi", hourNs)
        .select("event_id", "win_id")
    val schema = spark.read.parquet(srcDir).schema
    val name = s"rj_${System.nanoTime()}"
    val q = joined(Tables.withTsNs(
        spark.readStream.schema(schema).parquet(srcDir)))
      .writeStream.outputMode("append").format("memory").queryName(name)
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table(name)
    val batch = joined(base)
    assert(streamed.count() > 0)
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("streaming SCD2 closed intervals match the batch history build") {
    import org.apache.spark.sql.streaming.Trigger
    val srcDir = s"$fx/scd2_src"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val schema = spark.read.parquet(srcDir).schema
    val stream = StatefulScd2.fromRaw(spark, Tables.withTsNs(
      spark.readStream.schema(schema).parquet(srcDir)))
    val name = s"scd2_${System.nanoTime()}"
    val q = StatefulScd2.scd2(spark, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(name)
    // batch reference: the x1_scd2_history query's CLOSED intervals
    // (the open interval per user stays in the state store)
    val batch = graft.queries.Parity7
      .queries("x1_scd2_history")(spark, "/root/testdata/sf0.001")
      .filter(col("valid_to_us").isNotNull)
    assert(streamed.count() > 0)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamed).count() == 0)
  }

  test("SCD2 ordering contract: an out-of-order batch throws, in-order folds") {
    import org.apache.spark.api.java.Optional
    import org.apache.spark.sql.streaming.{GroupStateTimeout, TestGroupState}
    import StatefulScd2.{Change, Current, Interval}
    def state(cur: Option[Current]): TestGroupState[Current] =
      TestGroupState.create[Current](
        cur.map(Optional.of[Current]).getOrElse(Optional.empty[Current]()),
        GroupStateTimeout.NoTimeout(), 0L, Optional.empty(), false)
    // a batch event OLDER than the stored open interval must fail
    // loudly (mis-partitioned CDC source), not corrupt history
    val stale = state(Some(Current("login", 100L, 200L, 1L)))
    val ex = intercept[IllegalStateException] {
      StatefulScd2.updateScd2(7L,
        Iterator(Change(7L, 150L, 2L, "logout")), stale).toList
    }
    assert(ex.getMessage.contains("ordering contract"))
    // the in-order continuation closes the open interval exactly
    val ok = state(Some(Current("login", 100L, 200L, 1L)))
    val closed = StatefulScd2.updateScd2(7L,
      Iterator(Change(7L, 300L, 2L, "logout")), ok).toList
    assert(closed == List(Interval(7L, "login", 100L, 299L)))
    assert(ok.get == Current("logout", 300L, 300L, 2L))
  }

  test("streaming t-digest across micro-batches: rank bound holds vs batch") {
    // the mergeable-sketch contract END TO END in streaming: the
    // TypedImperativeAggregate's serialize/deserialize/merge path runs
    // through the state store across 4 micro-batches (maxFilesPerTrigger=1)
    // and the final digest must satisfy the same rank-error bound the
    // bounded oracle pins in batch mode
    import org.apache.spark.sql.streaming.Trigger
    val src = s"$fx/tdig_src"; val ckp = s"$fx/tdig_ckp"
    val ev = graft.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("value"))
    ev.repartition(4).write.mode("overwrite").parquet(src)
    val schema = ev.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(src)
      .groupBy(col("event_type"))
      .agg(graft.functions.TDigest.tdigest(spark, col("value"), 100).as("dg"),
        count(lit(1)).as("n"))
    val name = s"tdig_${System.nanoTime()}"
    val q = stream.writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .option("checkpointLocation", ckp)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val est = spark.table(name)
      .select(col("event_type"), col("n"),
        graft.functions.TDigest.tdigest_quantile(spark, col("dg"), 0.5)
          .as("p50"))
      .collect().map(r => r.getAs[String](0) ->
        (r.getAs[Long](1), r.getAs[Double](2))).toMap
    assert(est.size == 5)
    val vals = ev.collect().groupBy(_.getString(0))
      .map { case (k, rows) => k -> rows.map(_.getDouble(1)) }
    est.foreach { case (et, (n, p50)) =>
      val xs = vals(et)
      assert(n.toInt == xs.length)
      val rank = xs.count(_ <= p50).toDouble / xs.length
      assert(math.abs(rank - 0.5) <= 0.03,
        s"$et: streaming digest p50=$p50 rank=$rank")
    }
  }

  test("stream-stream attribution join == batch join (inner); outer " +
      "emits matched rows identically") {
    import graft.streaming.StreamJoin
    val srcDir = s"$fx/ssj_src_${System.nanoTime()}"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val schema = spark.read.parquet(srcDir).schema
    def streams() = {
      val st = Tables.withTsNs(
        spark.readStream.schema(schema).parquet(srcDir))
      (st.filter(col("event_type") === "click"),
        st.filter(col("event_type") === "view"))
    }
    def run(outer: Boolean): org.apache.spark.sql.DataFrame = {
      val (c, i) = streams()
      val name = s"ssj_${if (outer) "o" else "i"}_${System.nanoTime()}"
      val q = StreamJoin.attribute(c, i, outer = outer)
        .writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.table(name)
    }
    val ev = Tables.eventsNs(spark, "/root/testdata/sf0.001")
    val batch = StreamJoin.attribute(
      ev.filter(col("event_type") === "click"),
      ev.filter(col("event_type") === "view"))
    val streamedInner = run(outer = false)
    assert(streamedInner.count() > 0)
    assert(streamedInner.exceptAll(batch).count() == 0)
    assert(batch.exceptAll(streamedInner).count() == 0,
      "inner stream-stream join must emit exactly the batch matches")
    // leftOuter: matched rows must be identical; null rows (if the
    // final watermark released any) must be clicks truly unmatched in
    // batch — never a spurious null for a matched click
    val streamedOuter = run(outer = true)
    val matched = streamedOuter.filter(col("imp_id").isNotNull)
    assert(matched.exceptAll(batch).count() == 0)
    val nullClicks = streamedOuter.filter(col("imp_id").isNull)
      .select("click_id")
    val batchMatchedClicks = batch.select("click_id").distinct()
    assert(nullClicks.join(batchMatchedClicks, Seq("click_id"),
      "left_semi").count() == 0,
      "no outer-null row for a click that has an in-window impression")
    // malformed interval params fail FAST with a clear message (the
    // strings are spliced into an expr — the whitelist is also the
    // injection fence), not at analysis time with a parse error
    for (bad <- Seq("1 fortnight", "1; DROP TABLE x", "", "hour 1")) {
      val e = intercept[IllegalArgumentException] {
        StreamJoin.attribute(ev, ev, window = bad)
      }
      assert(e.getMessage.contains("window must look like"))
    }
    intercept[IllegalArgumentException] {
      StreamJoin.attribute(ev, ev, delay = "later")
    }
    // case/plural variants of legal intervals pass validation
    StreamJoin.attribute(ev, ev, window = "2 HOURS", delay = "30 second")
  }

  test("VersionedSink: each micro-batch commits one table version " +
      "with key stats; a retried batchId is a no-op (exactly-once)") {
    import graft.sources.VersionedTable
    import graft.streaming.VersionedSink
    val srcDir = s"$fx/vsink_src"
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    (0 until 4).foreach { i =>
      docs.filter(pmod(col("doc_id"), lit(4)) === i)
        .coalesce(1).write.mode("append").parquet(srcDir)
    }
    val tbl = s"$fx/vsink_tbl"
    val schema = spark.read.parquet(srcDir).schema
    val q = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(srcDir)
      .writeStream
      .foreachBatch(VersionedSink.into(tbl, statsCol = Some("doc_id")))
      .option("checkpointLocation", s"$fx/vsink_ckp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val v = VersionedTable.currentVersion(spark, tbl)
    assert(v == 4, s"4 micro-batches -> 4 append versions, got $v")
    val got = VersionedTable.read(spark, tbl).get
    assert(got.count() == docs.count())
    assert(got.exceptAll(docs).count() == 0 &&
      docs.exceptAll(got).count() == 0,
      "streamed table content == batch source exactly")
    // exactly-once: replaying the LAST batch id must not commit
    val lastBatch = VersionedTable.history(spark, tbl).select("batch")
      .head().getLong(0)
    val vRetry = VersionedSink.appendBatch(spark, tbl,
      docs.limit(5), lastBatch, None)
    assert(vRetry == v && VersionedTable.currentVersion(spark, tbl) == v,
      "retried micro-batch is a no-op")
    assert(VersionedTable.read(spark, tbl).get.count() == docs.count())
    // ...and a NEW batch id commits normally
    val vNext = VersionedSink.appendBatch(spark, tbl,
      docs.limit(5), lastBatch + 1, None)
    assert(vNext == v + 1)
    assert(VersionedTable.read(spark, tbl).get.count() ==
      docs.count() + 5)
  }

  test("dropDuplicatesWithinWatermark: replays inside the watermark " +
      "window collapse; state is time-bounded by contract") {
    // the Spark 4 API for at-least-once sources: exact dedup keyed on
    // content, but state retention bounded by the watermark instead
    // of growing forever (the unbounded dropDuplicates failure mode
    // at 100 TB stream length)
    val src = s"$fx/wmdedup_src_${System.nanoTime()}"
    write(s"$src/a.jsonl",
      """{"key":"k1","ets":"2024-01-01T10:00:00.000Z","v":1}
{"key":"k1","ets":"2024-01-01T10:00:30.000Z","v":2}
{"key":"k2","ets":"2024-01-01T10:01:00.000Z","v":3}
""")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "key STRING, ets TIMESTAMP, v INT")
    val deduped = spark.readStream.schema(schema).json(src)
      .withWatermark("ets", "10 minutes")
      .dropDuplicatesWithinWatermark("key")
    val name = s"wmdedup_${System.nanoTime()}"
    val q = deduped.writeStream.outputMode("append")
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val rows = spark.table(name)
    assert(rows.count() == 2, "k1's 30-second replay must collapse")
    assert(rows.filter(col("key") === "k1").count() == 1)
  }

  test("streaming HLL: update-mode register maxima over a stream " +
      "equal the batch sketch (mergeable-by-construction)") {
    // the register max is associative/commutative/idempotent, so the
    // SAME groupBy(j).max(rho) plan runs as an incremental streaming
    // aggregate — per-batch state is <= 64 rows regardless of stream
    // length, the sketch property in streaming form
    val srcDir = s"$fx/hll_src_${System.nanoTime()}"
    Files.createDirectories(Paths.get(srcDir))
    Files.copy(Paths.get("/root/testdata/sf0.001/events.parquet"),
      Paths.get(s"$srcDir/events.parquet"))
    val schema = spark.read.parquet(srcDir).schema
    val stream = spark.readStream.schema(schema).parquet(srcDir)
      .select(col("event_id").cast("string").as("sval"))
    val regs = graft.ops.Hll.registers(stream)
    val name = s"hll_${System.nanoTime()}"
    val q = regs.writeStream.outputMode("complete")
      .format("memory").queryName(name)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val streamed = spark.table(name).collect()
      .map(r => r.getAs[Long]("j") -> r.getAs[Long]("m")).toMap
    val batch = graft.ops.Hll.registers(
      Tables.events(spark, "/root/testdata/sf0.001")
        .select(col("event_id").cast("string").as("sval")))
      .collect().map(r => r.getAs[Long]("j") -> r.getAs[Long]("m")).toMap
    assert(streamed == batch, "streamed registers must equal batch")
    assert(streamed.size <= 64, "state is register-bounded")
  }
}
