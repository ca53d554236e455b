package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.streaming.StreamingOps

class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private lazy val streamDir: String = {
    val dir = Files.createTempDirectory("graft-events-stream")
    Files.copy(Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      dir.resolve("part-0.parquet"), StandardCopyOption.REPLACE_EXISTING)
    dir.toString
  }

  test("streaming windowed counts equal the batch computation") {
    val stream = StreamingOps.eventsStream(spark, streamDir)
    val got = StreamingOps.runToMemory(
      StreamingOps.windowedCounts(stream), "win_counts", OutputMode.Complete())
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    val want = StreamingOps.windowedCounts(GraftSession.table(spark, TestSpark.sfDir, "events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3))).toMap
    assert(got.keySet == want.keySet && got.keySet.nonEmpty)
    got.foreach { case (k, (n, total)) =>
      assert(want(k)._1 == n && math.abs(want(k)._2 - total) < 1e-6, s"window $k")
    }
  }

  test("streaming dedup drops at-least-once duplicates within the watermark") {
    // duplicate the whole input: every event_id arrives twice
    val dir = Files.createTempDirectory("graft-events-dup")
    Files.copy(Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      dir.resolve("a.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Files.copy(Paths.get(s"${TestSpark.sfDir}/events.parquet"),
      dir.resolve("b.parquet"), StandardCopyOption.REPLACE_EXISTING)
    val stream = StreamingOps.eventsStream(spark, dir.toString)
    val got = StreamingOps.runToMemory(
      StreamingOps.dedupStream(stream, Seq("event_id")), "dedup_out", OutputMode.Append())
    val nDistinct = GraftSession.table(spark, TestSpark.sfDir, "events").count()
    assert(got.count() == nDistinct, s"${got.count()} vs $nDistinct")
  }

  test("quality gate is streaming-safe: stateless pass gives batch-identical verdicts") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the plain words here keep flowing along nicely through this document stream today"),
      (2L, "x x x x x"),
      (3L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val dir = Files.createTempDirectory("graft-docs-quality-stream")
    docs.write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream.schema(docs.schema).parquet(dir.toString)
    def gate(df: org.apache.spark.sql.DataFrame) =
      graft.operators.TextOps.qualityFilter(df, "text", minTokens = 6)
        .select(col("doc_id"), col("reasons"), col("keep"))
    val got = StreamingOps.runToMemory(gate(stream), "quality_stream", OutputMode.Append())
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    val want = gate(docs)
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getBoolean(2)))).toMap
    assert(got == want && got(1L)._2 && !got(2L)._2 && !got(3L)._2, s"$got vs $want")
  }

  test("stream-static near-dup gate flags arrivals already in the corpus, once") {
    import spark.implicits._
    val corpus = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again today"),
      (101L, "completely different text about spark sql engines and optimizers"))
      .toDF("doc_id", "text")
    // arriving docs: 1 is a near-dup of corpus 100; 2 is novel
    val arrivals = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again tomorrow"),
      (2L, "novel content mentioning streams and watermarks and state stores"))
    val dir = Files.createTempDirectory("graft-docs-stream")
    arrivals.toDF("doc_id", "text").write.mode("overwrite")
      .parquet(dir.resolve("batch").toString)
    val stream = spark.readStream.schema("doc_id LONG, text STRING")
      .parquet(dir.resolve("batch").toString)
    val got = StreamingOps.runToMemory(
      StreamingOps.nearDupAgainstCorpus(stream, corpus, "doc_id", "text", threshold = 0.5),
      "neardup_gate", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((1L, 100L)), got) // exactly once, despite multi-band collisions

    // production path: caller-built, caller-persisted (and released) index
    val idx = StreamingOps.corpusSignatureIndex(corpus, "doc_id", "text").persist()
    try {
      val got2 = StreamingOps.runToMemory(
        StreamingOps.nearDupAgainstCorpusIndex(stream, idx, "doc_id", "text", threshold = 0.5),
        "neardup_gate_idx", OutputMode.Append())
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got2 == got, got2)
    } finally idx.unpersist()
  }

  test("late events never rewind session state (cross-batch out-of-order arrival)") {
    import StreamingOps.{UserEvent, UserSessionState, foldEvents}
    val H = 3600L * 1000000L
    val gap = 1800L * 1000000L
    // batch 1: one event at 10:00 → one session, last = 10:00
    val (s1, _) = foldEvents(None, Seq(UserEvent(1L, 10 * H)), gap)
    assert(s1 == UserSessionState(1L, 10 * H))
    // batch 2: a LATE event (8:00) plus an on-time one 5 min after the
    // true latest (10:05) — the 10:05 event must NOT open a new session
    // (a rewound `last` would measure a 2h05m gap from the late event)
    val (s2, n2) = foldEvents(Some(s1),
      Seq(UserEvent(1L, 8 * H), UserEvent(1L, 10 * H + 300L * 1000000L)), gap)
    assert(n2 == 2L)
    assert(s2.sessionCount == 1L, s"late event rewound last-seen timestamp: $s2")
    assert(s2.lastTsUs == 10 * H + 300L * 1000000L)
  }

  test("streaming funnel depths converge to the batch funnel answer") {
    import spark.implicits._
    val steps = Seq("signup", "click", "purchase")
    val stream = StreamingOps.eventsStream(spark, streamDir)
      .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("tsUs"))
      .as[StreamingOps.TypedEvent]
    // update-mode emits a running depth per trigger; the LAST row per user
    // is the converged answer — min-per-step state makes it equal batch
    val got = StreamingOps.runToMemory(
      StreamingOps.funnelDepths(stream, steps).toDF(), "funnel_stream", OutputMode.Update())
      .groupBy(col("user_id")).agg(max(col("funnel_depth")).as("funnel_depth"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val want = graft.operators.EventOps.funnel(
        graft.engine.GraftSession.table(spark, TestSpark.sfDir, "events"),
        "user_id", "event_type", "ts", steps)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.nonEmpty && got == want)
  }

  test("out-of-order arrival heals the funnel (min-per-step state, not a stage machine)") {
    import StreamingOps.{TypedEvent, foldFunnel, depthOf}
    val steps = Seq("signup", "click", "purchase")
    // batch 1: signup@1, purchase@2 arrive — depth 1 (no click yet)
    val s1 = foldFunnel(None, Seq(TypedEvent(1, "signup", 1), TypedEvent(1, "purchase", 3)), steps)
    assert(depthOf(s1) == 1)
    // batch 2: the click that HAPPENED at t=2 arrives late — the depth
    // must heal to 3; a progressed-stage machine would be stuck at 1
    val s2 = foldFunnel(Some(s1), Seq(TypedEvent(1, "click", 2)), steps)
    assert(depthOf(s2) == 3)
  }

  test("stateful session counts match batch sessionization totals") {
    import spark.implicits._
    val stream = StreamingOps.eventsStream(spark, streamDir)
      .select(col("user_id"), unix_micros(col("ts")).as("tsUs"))
      .as[StreamingOps.UserEvent]
    val got = StreamingOps.runToMemory(
      StreamingOps.sessionCounts(stream).toDF(), "sess_counts", OutputMode.Update())
      .groupBy(col("user_id")).agg(max(col("n_sessions")).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = SparkEntry.named("s03_events_sessionize").build(spark, TestSpark.sfDir)
      .groupBy(col("user_id")).agg(max(col("session_id")).as("n_sessions"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.nonEmpty && got == want)
  }

  test("foldFollowup: clears within horizon, retains marks for late arrivals, watermark-gates") {
    import StreamingOps.{FollowupState, TypedEvent, foldFollowup}
    val H = 3600L * 1000000L // 1h in us
    def s(ts: Long) = TypedEvent(1, "signup", ts)
    def p(ts: Long) = TypedEvent(1, "purchase", ts)
    // batch 1 (wm 0): signup@0 cleared by purchase@30min; signup@2h pends
    val (st1, out1) = foldFollowup(None, Seq(s(0L), p(H / 2), s(2 * H)),
      "signup", "purchase", H, 0L)
    assert(out1.isEmpty && st1.pendingUs == Seq(2 * H), st1.toString)
    // batch 2 (wm 4h): the pending signup@2h decides (no purchase by 3h);
    // a LATE signup@3h30 arriving now is still cleared by the RETAINED
    // purchase mark@4h05 from this same batch
    val (st2, out2) = foldFollowup(Some(st1), Seq(p(4 * H + H / 12), s(3 * H + H / 2)),
      "signup", "purchase", H, 4 * H)
    assert(out2 == Seq(2 * H), s"watermark passed 2h+1h: $out2")
    assert(st2.pendingUs.isEmpty, s"late signup must be cleared by the mark: $st2")
    assert(st2.purchasesUs == Seq(4 * H + H / 12), "mark >= watermark is retained")
    // batch 3 (wm 6h): the mark is below the watermark now — pruned
    val (st3, out3) = foldFollowup(Some(st2), Seq.empty, "signup", "purchase", H, 6 * H)
    assert(out3.isEmpty && st3 == FollowupState(Seq.empty, Seq.empty))
  }

  test("noFollowupStream: event-time timers emit exactly the batch no-followup set") {
    import spark.implicits._
    val H = 3600L // seconds
    // B offsets the whole timeline: a row whose event time equals the
    // INITIAL watermark (epoch 0) is dropped as late before the stateful
    // operator ever sees it
    val B = 1000000L
    def ev(u: Long, t: String, sec: Long) =
      (u, t, new java.sql.Timestamp((B + sec) * 1000L))
    // batch 1: u1 signup cleared (purchase at +30min), u2 signup pends,
    // u3's purchase arrives BEFORE its signup
    val b1 = Seq(ev(1, "signup", 0), ev(1, "purchase", H / 2), ev(2, "signup", 0),
      ev(3, "purchase", 600), ev(99, "view", H))
    // batch 2: u3's late signup (cleared by the retained mark); heartbeat
    // pushes the watermark past u2's horizon
    val b2 = Seq(ev(3, "signup", 300), ev(99, "view", 3 * H))
    // batch 3: heartbeat only — the timer for u2 fires under wm B+3h
    val b3 = Seq(ev(99, "view", 5 * H))
    val dir = java.nio.file.Files.createTempDirectory("graft-nofollowup")
    Seq(("a", b1), ("b", b2), ("c", b3)).zipWithIndex.foreach { case ((name, rows), i) =>
      val scratch = java.nio.file.Files.createTempDirectory(s"graft-nf-$name")
      rows.toDF("user_id", "event_type", "ts").coalesce(1)
        .write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      val dst = dir.resolve(s"$name.parquet")
      java.nio.file.Files.copy(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      // file-source batch order is modification time: pin it explicitly
      dst.toFile.setLastModified(1000000L * (i + 1))
    }
    val schema = spark.read.parquet(s"$dir/a.parquet").schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    val got = StreamingOps.runToMemory(
      StreamingOps.noFollowupStream(stream, "signup", "purchase", H * 1000000L).toDF(),
      "no_followup_stream", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((2L, B * 1000000L)),
      s"u1 cleared, u3 healed by the retained mark, u2 decided by the timer: $got")
  }

  test("stream-stream interval join: on-time pairs emit, watermark drops late input and bounds state") {
    import spark.implicits._
    val H = 3600L
    val tolUs = 3600L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ldir = Files.createTempDirectory("graft-ssj-left").toString
    val rdir = Files.createTempDirectory("graft-ssj-right").toString
    // batch 1 — left: click@10:00 plus another user's click@20:00; right:
    // purchase@10:30 (in-tolerance match) and purchase@20:00. The 20:00
    // rows on BOTH sides matter: the global watermark is the MIN over
    // all watermarked inputs, so each side must advance past the first
    // click's 1h join horizon for eviction to be provable
    Seq((1L, 100L, ts(10 * H)), (2L, 101L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(ldir)
    Seq((1L, 200L, ts(10 * H + 1800)), (1L, 201L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(rdir)
    val schema = "user_id LONG, event_id LONG, ts TIMESTAMP"
    val joined = StreamingOps.intervalJoinStreams(
      spark.readStream.schema(schema).parquet(ldir),
      spark.readStream.schema(schema).parquet(rdir), tolUs)
    val q = joined.writeStream.format("memory").queryName("ssj_out")
      .outputMode(OutputMode.Append()).start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("ssj_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(afterB1 == Set((100L, 200L, 1800L * 1000000L)), afterB1.toString)
      // batch 2: a LATE purchase@10:15 — batch semantics would pair it,
      // but the watermark (20:00 after batch 1) already evicted the
      // click's join state / drops the late input. No new row.
      Seq((1L, 202L, ts(10 * H + 900))).toDF("user_id", "event_id", "ts")
        .coalesce(1).write.mode("append").parquet(rdir)
      q.processAllAvailable()
      val afterB2 = spark.table("ssj_out").collect()
        .map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(afterB2 == afterB1, s"late input must be dropped: $afterB2")
      // state is BOUNDED: of the 4 inputs, only the right row the
      // watermark hasn't passed (purchase@20:00) may remain buffered —
      // unbounded-state retention would hold all of them
      val state = q.lastProgress.stateOperators
      assert(state.nonEmpty && state.map(_.numRowsTotal).sum <= 2,
        s"join state not bounded: ${state.map(_.numRowsTotal).mkString(",")}")
    } finally q.stop()
    // the batch twin DOES pair the late purchase — the delta IS the
    // documented watermark contract, nothing else
    val batch = StreamingOps.intervalJoinStreams(
        spark.read.parquet(ldir), spark.read.parquet(rdir), tolUs)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(batch == Set((100L, 200L), (100L, 202L)), batch.toString)
  }

  test("stream-stream left-outer interval join: null rows emit only when the watermark proves them") {
    import spark.implicits._
    val H = 3600L
    val tolUs = 3600L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ldir = Files.createTempDirectory("graft-ssjo-left").toString
    val rdir = Files.createTempDirectory("graft-ssjo-right").toString
    // u1 click has a purchase (pair); u2's click has none and its horizon
    // (11:05) is proven by the final watermark (20:00) → null row; u4's
    // horizon is EXACTLY the watermark (decision boundary); u3's (20:30)
    // is beyond it → held in state, absent; u9@20:00 is the left-side
    // heartbeat advancing that side's max event time
    Seq((1L, 100L, ts(10 * H)), (2L, 101L, ts(10 * H + 300)),
        (4L, 104L, ts(19 * H)), (3L, 102L, ts(19 * H + 1800)),
        (9L, 103L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(ldir)
    Seq((1L, 200L, ts(10 * H + 1800)), (8L, 201L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(rdir)
    val schema = "user_id LONG, event_id LONG, ts TIMESTAMP"
    val got = StreamingOps.runToMemory(
      StreamingOps.intervalJoinStreams(
        spark.readStream.schema(schema).parquet(ldir),
        spark.readStream.schema(schema).parquet(rdir),
        tolUs, joinType = "left_outer"),
      "ssjo_out", OutputMode.Append(), availableNow = true)
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // strict boundary: a horizon AT the watermark is not yet proven
    assert(got == Set((100L, 200L), (101L, -1L)), got.toString)
    // the batch twin under the same ms-floored min-policy watermark
    // reproduces the decision set exactly — including the boundary row
    val batch = StreamingOps.intervalJoinBatchLeftOuter(
        spark.read.parquet(ldir), spark.read.parquet(rdir), tolUs,
        20 * H * 1000000L)
      .collect().map(r => (r.getLong(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(batch == got, s"batch=$batch stream=$got")
  }

  test("stream-stream full-outer interval join: asymmetric null-row horizons, rows held past the watermark on both sides") {
    import spark.implicits._
    val H = 3600L
    val tolUs = 3600L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ldir = Files.createTempDirectory("graft-ssjf-left").toString
    val rdir = Files.createTempDirectory("graft-ssjf-right").toString
    // left: u1's click pairs; u2's click is unmatched with horizon 11:05
    // below the final watermark (20:00) → null-right row; u3's horizon
    // 20:30 is past it → HELD; u9@20:00 is the left heartbeat (its own
    // horizon 21:00 is past the watermark → held, not emitted)
    Seq((1L, 100L, ts(10 * H)), (2L, 101L, ts(10 * H + 300)),
        (3L, 102L, ts(19 * H + 1800)), (9L, 103L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(ldir)
    // right: u1's purchase pairs; u8's purchase is unmatched and its OWN
    // ts (15:00) is below the watermark → null-left row (the asymmetric
    // horizon: rights prove at ts, lefts at ts + tol); u7's unmatched
    // purchase sits EXACTLY at the watermark — strict boundary → HELD
    Seq((1L, 200L, ts(10 * H + 1800)), (8L, 201L, ts(15 * H)),
        (7L, 202L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(rdir)
    val schema = "user_id LONG, event_id LONG, ts TIMESTAMP"
    val got = StreamingOps.runToMemory(
      StreamingOps.intervalJoinStreams(
        spark.readStream.schema(schema).parquet(ldir),
        spark.readStream.schema(schema).parquet(rdir),
        tolUs, joinType = "full_outer"),
      "ssjf_out", OutputMode.Append(), availableNow = true)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(got == Set((1L, 100L, 200L), (2L, 101L, -1L), (8L, -1L, 201L)),
      got.toString)
    // the batch twin under the same watermark reproduces all three
    // decision classes — pair, left-null horizon, right-null horizon —
    // and holds exactly the same rows back
    val batch = StreamingOps.intervalJoinBatchFullOuter(
        spark.read.parquet(ldir), spark.read.parquet(rdir), tolUs,
        20 * H * 1000000L)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(batch == got, s"batch=$batch stream=$got")
  }

  test("stream-stream right-outer interval join: rights prove at their own ts, matched pairs emit, boundary row held") {
    import spark.implicits._
    val H = 3600L
    val tolUs = 3600L * 1000000L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val ldir = Files.createTempDirectory("graft-ssjr-left").toString
    val rdir = Files.createTempDirectory("graft-ssjr-right").toString
    // left: u1's click pairs; u2's click is unmatched — in a RIGHT outer
    // it never emits a null row however far the watermark advances;
    // u9@20:00 is the left heartbeat
    Seq((1L, 100L, ts(10 * H)), (2L, 101L, ts(10 * H + 300)),
        (9L, 103L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(ldir)
    // right: u1's purchase pairs; u8's purchase is unmatched and its OWN
    // ts (15:00) is below the final watermark (20:00) → null-left row;
    // u7's unmatched purchase sits EXACTLY at the watermark — strict
    // boundary → HELD
    Seq((1L, 200L, ts(10 * H + 1800)), (8L, 201L, ts(15 * H)),
        (7L, 202L, ts(20 * H)))
      .toDF("user_id", "event_id", "ts")
      .coalesce(1).write.mode("append").parquet(rdir)
    val schema = "user_id LONG, event_id LONG, ts TIMESTAMP"
    val got = StreamingOps.runToMemory(
      StreamingOps.intervalJoinStreams(
        spark.readStream.schema(schema).parquet(ldir),
        spark.readStream.schema(schema).parquet(rdir),
        tolUs, joinType = "right_outer"),
      "ssjr_out", OutputMode.Append(), availableNow = true)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    // pair + right-null horizon; NO left-null rows in a right outer
    assert(got == Set((1L, 100L, 200L), (8L, -1L, 201L)), got.toString)
    // the batch twin under the same watermark reproduces the decision
    // set exactly, boundary row included
    val batch = StreamingOps.intervalJoinBatchRightOuter(
        spark.read.parquet(ldir), spark.read.parquet(rdir), tolUs,
        20 * H * 1000000L)
      .collect().map(r => (r.getLong(0),
        if (r.isNullAt(1)) -1L else r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toSet
    assert(batch == got, s"batch=$batch stream=$got")
  }

  test("native session_window stream: sessions emit once the watermark passes their end; batch twin matches") {
    import spark.implicits._
    val H = 3600L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("graft-sessw").toString
    // u1's two events merge into [10:00, 10:40) — decided by the final
    // watermark (20:00); u4's single event ends EXACTLY at the watermark
    // (boundary orientation pin); u2's ends past it — held in state; the
    // u9 heartbeat advances the watermark and is itself held. u5 is the
    // session-SPLITTING regression: events at 19:29 and 19:50 merge into
    // [19:29, 20:20) — held — but a filter on sess_end pushed below the
    // merging aggregate would delete only the 19:50 event (pre-merge end
    // 20:20 > wm) and resurface [19:29, 19:59) as a decided 1-event
    // fragment, which is why the batch twin filters on max(ts) + gap
    Seq((1L, ts(10 * H)), (1L, ts(10 * H + 600)), (4L, ts(19 * H + 1800)),
        (2L, ts(19 * H + 3000)), (5L, ts(19 * H + 1740)), (5L, ts(19 * H + 3000)),
        (9L, ts(20 * H)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(dir)
    val gapUs = 1800L * 1000000L
    val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(dir)
    val got = StreamingOps.runToMemory(
        StreamingOps.sessionWindowCounts(stream, gapUs), "sessw_out",
        OutputMode.Append(), availableNow = true)
      .collect().map(r => (r.getLong(0), r.getTimestamp(2).getTime / 1000, r.getLong(3))).toSet
    assert(got == Set((1L, 10 * H + 600 + 1800, 2L), (4L, 20 * H, 1L)), got.toString)
    // batch twin under the same decided-by-watermark cutoff (shared
    // helper: the fixture's max ts / min policy = 20:00) — no u5 row,
    // whole or fragment
    assert(StreamingOps.finalWatermarkUs(spark.read.parquet(dir)) == 20 * H * 1000000L)
    val batch = StreamingOps.sessionWindowBatchDecided(
        spark.read.parquet(dir), gapUs, 20 * H * 1000000L)
      .collect().map(r => (r.getLong(0), r.getTimestamp(2).getTime / 1000, r.getLong(3))).toSet
    assert(batch == got, s"batch=$batch stream=$got")
  }

  test("RocksDB state store: provider actually engaged, emitted rows identical to the default provider") {
    import spark.implicits._
    val H = 3600L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("graft-rocksdb").toString
    // the session_window fixture: merged sessions, a boundary session, a
    // held session — the state shapes that would surface a provider
    // behavior difference if one existed
    Seq((1L, ts(10 * H)), (1L, ts(10 * H + 600)), (4L, ts(19 * H + 1800)),
        (2L, ts(19 * H + 3000)), (5L, ts(19 * H + 1740)), (5L, ts(19 * H + 3000)),
        (9L, ts(20 * H)))
      .toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(dir)
    val gapUs = 1800L * 1000000L
    def run(name: String) = {
      val stream = spark.readStream.schema("user_id LONG, ts TIMESTAMP").parquet(dir)
      val (out, metrics) = StreamingOps.runToMemoryStateMetrics(
        StreamingOps.sessionWindowCounts(stream, gapUs), name,
        OutputMode.Append(), availableNow = true)
      (out.collect().map(r =>
        (r.getLong(0), r.getTimestamp(2).getTime / 1000, r.getLong(3))).toSet, metrics)
    }
    val (defaultRows, defaultMetrics) = run("rocksdb_default_out")
    val (rocksRows, rocksMetrics) =
      StreamingOps.withStateStoreProvider(spark, StreamingOps.RocksDbStateStoreProvider) {
        run("rocksdb_rocks_out")
      }
    // identical emitted rows — the provider-independence contract
    assert(rocksRows == defaultRows && rocksRows.nonEmpty,
      s"rocksdb=$rocksRows default=$defaultRows")
    // RocksDB was ENGAGED, not silently defaulted: the provider reports
    // rocksdb* custom metrics the default provider never emits, and the
    // state operator saw rows
    import scala.jdk.CollectionConverters._
    val rocksKeys = rocksMetrics.flatMap(_.customMetrics.keySet().asScala)
    assert(rocksKeys.exists(_.toLowerCase.contains("rocksdb")),
      s"no rocksdb custom metrics — provider not engaged? keys=$rocksKeys")
    assert(rocksMetrics.exists(_.numRowsTotal > 0), "state operator saw no rows")
    assert(!defaultMetrics.flatMap(_.customMetrics.keySet().asScala)
      .exists(_.toLowerCase.contains("rocksdb")),
      "default-provider run unexpectedly reports rocksdb metrics — the swap leaked")
    // the swap restored the session conf
    assert(!spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB")))
  }

  test("transformWithState: named state accumulates across batches, first-type heals on late arrival, RocksDB engaged") {
    import spark.implicits._
    val H = 3600L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val dir = Files.createTempDirectory("graft-tws").toString
    // file 1: user 1 clicks twice, user 2 views
    Seq((1L, "click", ts(10 * H)), (1L, "click", ts(10 * H + 600)),
        (2L, "view", ts(11 * H)))
      .toDF("user_id", "event_type", "ts").coalesce(1).write.mode("append").parquet(dir)
    // file 2: user 1's LATE view at 9:00 — EARLIER than every click, so
    // the MapState min-ts discipline must flip first_type to 'view'
    // (a first-write-wins map would stay stuck on 'click'). User 2's
    // NULL-typed event must be skipped by the operator's own filter
    // (a null MapState key fails at runtime) — every count below proves
    // it left no trace
    Seq((1L, Some("view"), ts(9 * H)), (2L, Some("purchase"), ts(12 * H)),
        (2L, None, ts(12 * H + 60)))
      .toDF("user_id", "event_type", "ts").coalesce(1).write.mode("append").parquet(dir)
    val (rows, metrics) =
      StreamingOps.withStateStoreProvider(spark, StreamingOps.RocksDbStateStoreProvider) {
        val stream = spark.readStream.option("maxFilesPerTrigger", 1)
          .schema("user_id LONG, event_type STRING, ts TIMESTAMP").parquet(dir)
        StreamingOps.runToMemoryStateMetrics(
          StreamingOps.typeProfileStream(stream).toDF(), "tws_out",
          OutputMode.Update(), availableNow = true)
      }
    val emitted = rows.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    // cross-batch ValueState accumulation: user 1 was emitted once per
    // batch it appeared in, with STRICTLY increasing running counts —
    // a state-less (or state-losing) run would repeat or reset counts
    val u1 = emitted.filter(_._1 == 1L).sortBy(_._2)
    assert(u1.map(_._2).toSeq == Seq(2L, 3L), s"user-1 running counts: ${u1.toSeq}")
    // the batch-1 profile knew only clicks; the final state healed to the
    // late view on both the distinct-type count and the earliest type
    assert(u1.head._4 == "click" && u1.head._3 == 1L, s"batch-1 profile: ${u1.head}")
    assert(u1.last._4 == "view" && u1.last._3 == 2L, s"final profile: ${u1.last}")
    // final fold equals the single-aggregate batch twin, per user
    val fin = emitted.groupBy(_._1).map { case (u, rs) => rs.maxBy(_._2) }.toSet
    assert(fin == Set((1L, 3L, 2L, "view"), (2L, 2L, 2L, "view")), s"final: $fin")
    // RocksDB engaged (transformWithState REQUIRES it — this pins that the
    // scoped swap actually carried into the query)
    import scala.jdk.CollectionConverters._
    assert(metrics.flatMap(_.customMetrics.keySet().asScala)
      .exists(_.toLowerCase.contains("rocksdb")), "rocksdb metrics absent")
    assert(metrics.exists(_.numRowsTotal > 0), "state operator saw no rows")
  }

  test("profile state folds over stream micro-batches: merged state equals the batch profile") {
    import spark.implicits._
    import graft.operators.Profile
    // three files -> three micro-batches under maxFilesPerTrigger=1: the
    // p18 mergeable state is exactly what lets a stream profile a corpus
    // incrementally — fold each batch's state into the running state and
    // never revisit a processed row
    val dir = Files.createTempDirectory("graft-profstream")
    Seq.tabulate(3) { f =>
      val scratch = Files.createTempDirectory(s"graft-prof-$f")
      Seq.tabulate(100)(i => (f * 100L + i, (i * 7 % 300).toLong - 10L))
        .toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"f$f.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val stream = spark.readStream.schema("id LONG, v LONG")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    var state: Option[org.apache.spark.sql.DataFrame] = None
    var nBatches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val s = Profile.numericProfileState(batch, "v", 0L, 256L, 8).localCheckpoint(true)
        state = Some(state.map(p =>
          Profile.mergeProfileStates(p, s).localCheckpoint(true)).getOrElse(s))
        nBatches += 1
        ()
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(nBatches == 3, s"expected 3 micro-batches, got $nBatches")
    def rows(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.get(2), r.get(3), r.get(4), r.get(5)))).toMap
    val whole = rows(Profile.numericProfileState(
      spark.read.parquet(dir.toString), "v", 0L, 256L, 8))
    assert(rows(state.get) == whole, "streamed fold diverged from the batch state")
  }

  test("HLL and KMV states fold over stream micro-batches: running states equal the batch sketches") {
    import spark.implicits._
    import graft.operators.Profile
    // the p18 incremental-profiling pattern applied to the round-17
    // cardinality sketches: fold each micro-batch's state into the
    // running state — distinct-count and overlap questions stay
    // answerable mid-stream without revisiting processed rows
    val dir = Files.createTempDirectory("graft-sketchstream")
    Seq.tabulate(3) { f =>
      val scratch = Files.createTempDirectory(s"graft-sk-$f")
      Seq.tabulate(150)(i => (f * 150L + i, s"u${(f * 150 + i) % 220}"))
        .toDF("id", "v").coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.toFile.listFiles.filter(_.getName.endsWith(".parquet")).head
      Files.copy(part.toPath, dir.resolve(s"f$f.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
    }
    val stream = spark.readStream.schema("id LONG, v STRING")
      .option("maxFilesPerTrigger", 1).parquet(dir.toString)
    var hll: Option[org.apache.spark.sql.DataFrame] = None
    var kmv: Option[org.apache.spark.sql.DataFrame] = None
    var nBatches = 0
    val q = stream.writeStream.foreachBatch {
      (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val h = Profile.hllState(batch, "v", 8).localCheckpoint(true)
        hll = Some(hll.map(p =>
          Profile.mergeHllStates(p, h).localCheckpoint(true)).getOrElse(h))
        val k = Profile.kmvState(batch, "v", 96).localCheckpoint(true)
        kmv = Some(kmv.map(p =>
          Profile.mergeKmvStates(96, p, k).localCheckpoint(true)).getOrElse(k))
        nBatches += 1
        ()
    }.trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    try q.awaitTermination() finally q.stop()
    assert(nBatches == 3, s"expected 3 micro-batches, got $nBatches")
    val all = spark.read.parquet(dir.toString)
    val hWhole = Profile.hllState(all, "v", 8).collect()
      .map(r => (r.getInt(0), r.getInt(1))).toSet
    assert(hll.get.collect().map(r => (r.getInt(0), r.getInt(1))).toSet == hWhole,
      "streamed HLL fold diverged from the batch state")
    val kWhole = Profile.kmvState(all, "v", 96).collect().map(_.getLong(0)).toSet
    assert(kmv.get.collect().map(_.getLong(0)).toSet == kWhole,
      "streamed KMV fold diverged from the batch state")
    // the folded state answers the stream's distinct count: 220 true NDV
    val est = Profile.distinctFromHllState(hll.get, 8).collect()(0).getDouble(5)
    assert(math.abs(est - 220.0) / 220.0 <= 0.25, s"HLL estimate $est vs ndv 220")
  }

  test("restart recovery: state survives the kill, nothing re-emits, total equals uninterrupted") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val H = 3600L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val gapUs = 1800L * 1000000L
    // fixture around a kill at 3:00 —
    //   user 1: 1:00, 1:10  (session ends 1:40 — DECIDED before the kill)
    //   user 2: 2:50 | 3:10 (one session SPANNING the kill: first event
    //           before, second after — only checkpointed state can merge
    //           them; a state-losing restart emits two fragments or
    //           double-counts)
    //   user 1: 5:00        (advances the final watermark; itself undecided)
    val events = Seq((1L, ts(1 * H)), (1L, ts(1 * H + 600)), (2L, ts(3 * H - 600)),
        (2L, ts(3 * H + 600)), (1L, ts(5 * H)))
      .toDF("user_id", "ts")
    val land = Files.createTempDirectory("graft-rst-land").toString
    val ckpt = Files.createTempDirectory("graft-rst-ckpt").toString
    val out = Files.createTempDirectory("graft-rst-out").toString
    def deliver(pred: org.apache.spark.sql.Column): Unit =
      events.filter(pred).coalesce(1).write.mode("append").parquet(land)
    def runInstance(): Unit = {
      val q = StreamingOps.sessionWindowCounts(
          spark.readStream.schema(events.schema).parquet(land), gapUs)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    def committed(): Set[(Long, Long, Long, Long)] =
      spark.read.parquet(out).collect().map(r => (r.getLong(0),
        r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3))).toSet
    deliver(unix_micros(col("ts")) <= 3L * H * 1000000L)
    runInstance()
    val afterKill = committed()
    // instance 1 decided exactly user 1's first session; user 2's
    // half-session is STATE, not output
    assert(afterKill == Set((1L, 1 * H * 1000, (1 * H + 600 + 1800) * 1000, 2L)),
      s"after kill: $afterKill")
    deliver(unix_micros(col("ts")) > 3L * H * 1000000L)
    runInstance() // cold start from the checkpoint
    val total = committed()
    // the resumed instance emitted ONLY the spanning session, MERGED:
    // 2 events though instance 2 saw just one — the checkpointed session
    // state did the other half. Nothing from instance 1 re-emitted.
    assert(total -- afterKill == Set(
      (2L, (3 * H - 600) * 1000, (3 * H + 600 + 1800) * 1000, 2L)),
      s"resumed delta: ${total -- afterKill}")
    assert(total.size == afterKill.size + 1, s"re-emission or loss: $total")
    // exactly-once through restart: two-run committed total == the
    // uninterrupted single-pass batch twin
    val twin = StreamingOps.sessionWindowBatchDecided(events, gapUs,
        StreamingOps.finalWatermarkUs(events))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSet
    assert(total == twin, s"total $total != twin $twin")
  }

  test("mid-batch kill: replayed batch does not duplicate its committed output; spanning session merges; total equals twin") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    val H = 3600L
    def ts(sec: Long) = new java.sql.Timestamp(sec * 1000L)
    val gapUs = 1800L * 1000000L
    // events span 1:00..7:00; the operator's terciles cut at 3:00 and
    // 5:00 — the manual deliveries below use the same cuts so this
    // fixture exercises BOTH the replicated scenario and the public
    // operator:
    //   user 1: 1:00, 1:10  -> held by instance 1 (its own watermark,
    //           1:10, can't decide it), decided and COMMITTED by
    //           instance 2
    //   user 3: 3:30, 3:40  -> decided and COMMITTED by instance 2 —
    //           the batch whose commit-log entry the kill erases commits
    //           BOTH sessions: on replay both would DUPLICATE if the
    //           sink didn't skip
    //   user 2: 4:50 | 5:10 -> one session SPANNING the kill point
    //   user 1: 7:00        -> advances the final watermark; undecided
    val events = Seq((1L, ts(1 * H)), (1L, ts(1 * H + 600)),
        (3L, ts(3 * H + 1800)), (3L, ts(3 * H + 2400)),
        (2L, ts(5 * H - 600)), (2L, ts(5 * H + 600)), (1L, ts(7 * H)))
      .toDF("user_id", "ts")
    val land = Files.createTempDirectory("graft-mbk-land").toString
    val ckpt = Files.createTempDirectory("graft-mbk-ckpt").toString
    val out = Files.createTempDirectory("graft-mbk-out").toString
    def deliver(pred: org.apache.spark.sql.Column): Unit =
      events.filter(pred).coalesce(1).write.mode("append").parquet(land)
    def runInstance(): Unit = {
      val q = StreamingOps.sessionWindowCounts(
          spark.readStream.schema(events.schema).parquet(land), gapUs)
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt).outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      try q.awaitTermination() finally q.stop()
    }
    // multiset, not set: a replayed-batch duplicate emission is EXACTLY
    // what this test exists to catch, and a set union would mask it
    def committed(): Seq[(Long, Long, Long, Long)] =
      spark.read.parquet(out).collect().map(r => (r.getLong(0),
        r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3)))
        .toSeq.sorted
    val u1 = (1L, 1 * H * 1000, (1 * H + 600 + 1800) * 1000, 2L)
    val u3 = (3L, (3 * H + 1800) * 1000, (3 * H + 2400 + 1800) * 1000, 2L)
    val u2 = (2L, (5 * H - 600) * 1000, (5 * H + 600 + 1800) * 1000, 2L)
    deliver(unix_micros(col("ts")) <= 3L * H * 1000000L)
    runInstance()
    assert(committed().isEmpty, committed().toString)
    deliver(unix_micros(col("ts")) > 3L * H * 1000000L
      && unix_micros(col("ts")) <= 5L * H * 1000000L)
    runInstance()
    // instance 2 committed u3 to the SINK; now erase its commit-log
    // entry (and the checksum sidecar) — the crash window between sink
    // commit and commit-log write
    assert(committed().sorted == Seq(u1, u3).sorted, committed().toString)
    val commitDir = new java.io.File(ckpt, "commits")
    val newest = commitDir.listFiles().filter(_.getName.forall(_.isDigit))
      .maxBy(_.getName.toLong)
    assert(newest.delete())
    new java.io.File(commitDir, s".${newest.getName}.crc").delete()
    deliver(unix_micros(col("ts")) > 5L * H * 1000000L)
    runInstance()
    // instance 3 REPLAYED u3's batch: exactly-once means u3 appears ONCE
    // (the sink's _spark_metadata made the replayed write a no-op), the
    // spanning session merged across the kill, and nothing was lost
    assert(committed() == Seq(u1, u2, u3).sorted, committed().toString)
    val twin = StreamingOps.sessionWindowBatchDecided(events, gapUs,
        StreamingOps.finalWatermarkUs(events))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSeq.sorted
    assert(committed() == twin, s"${committed()} != twin $twin")
    // the public operator runs the same protocol end-to-end
    val op = StreamingOps.midBatchKillRecoverySessions(
        events.select(col("user_id"), col("ts")), gapUs)
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).getTime,
        r.getTimestamp(2).getTime, r.getLong(3))).toSeq.sorted
    assert(op == twin, s"operator $op != twin $twin")
  }

  test("withConf restores a set key and unsets an unset one, also when the body throws") {
    val (set, unset) = ("spark.graft.test.setKey", "spark.graft.test.unsetKey")
    spark.conf.set(set, "before")
    try {
      GraftSession.withConf(spark, set, "inside") {
        assert(spark.conf.get(set) == "inside")
      }
      assert(spark.conf.get(set) == "before")
      intercept[IllegalStateException](GraftSession.withConf(spark, set, "inside") {
        throw new IllegalStateException("body failed")
      })
      assert(spark.conf.get(set) == "before")
      GraftSession.withConf(spark, unset, "inside") {
        assert(spark.conf.get(unset) == "inside")
      }
      assert(spark.conf.getOption(unset).isEmpty)
      intercept[IllegalStateException](GraftSession.withConf(spark, unset, "inside") {
        throw new IllegalStateException("body failed")
      })
      assert(spark.conf.getOption(unset).isEmpty)
    } finally spark.conf.unset(set)
  }
}
