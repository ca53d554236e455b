package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession
import graft.operators.JoinOps

class JoinOpsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def customer = GraftSession.table(spark, TestSpark.sfDir, "customer")
  private def orders = GraftSession.table(spark, TestSpark.sfDir, "orders")

  test("rightAnti equals NOT EXISTS semantics") {
    val c = customer.filter(col("c_custkey") <= 50L)
    val o = orders
    val got = JoinOps.rightAnti(c, o, c("c_custkey") === o("o_custkey"))
      .select("o_orderkey").collect().map(_.getLong(0)).toSet
    GraftSession.useDir(spark, TestSpark.sfDir)
    val want = spark.sql(
      """SELECT o_orderkey FROM orders o WHERE NOT EXISTS
        (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey AND c.c_custkey <= 50)""")
      .collect().map(_.getLong(0)).toSet
    assert(got == want && got.nonEmpty)
  }

  test("fullOuterAnti equals full-join-then-null-filter") {
    val c = customer.filter(col("c_custkey") <= 100L).select("c_custkey", "c_name")
    val o = orders.filter(col("o_totalprice") > 480000.0).select("o_orderkey", "o_custkey")
    val got = JoinOps.fullOuterAnti(c, o, c("c_custkey") === o("o_custkey"))
    val full = c.join(o, c("c_custkey") === o("o_custkey"), "full")
      .filter(c("c_custkey").isNull || o("o_custkey").isNull)
      .select("c_custkey", "c_name", "o_orderkey", "o_custkey")
    assert(got.count() == full.count() && got.count() > 0)
    assert(got.exceptAll(full).isEmpty && full.exceptAll(got).isEmpty)
  }

  test("fullOuterAnti never contains matched rows") {
    val c = customer.select("c_custkey", "c_name")
    val o = orders.select("o_orderkey", "o_custkey")
    val matched = JoinOps.fullOuterAnti(c, o, c("c_custkey") === o("o_custkey"))
      .filter(col("c_custkey").isNotNull && col("o_custkey").isNotNull)
    assert(matched.count() == 0)
  }

  test("fullOuterAnti keeps values of a SHARED join-key column name (suffixes right as _r)") {
    import spark.implicits._
    val l = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    val r = Seq((2L, 9.0), (3L, 7.0)).toDF("id", "score")
    val got = JoinOps.fullOuterAnti(l, r, l("id") === r("id"))
    assert(got.columns.toSeq == Seq("id", "name", "id_r", "score"))
    val rows = got.collect().map(x => (Option(x.get(0)), Option(x.get(2)))).toSet
    // left-only row 1 keeps its real id; right-only row 3 keeps its real id_r
    assert(rows == Set((Some(1L), None), (None, Some(3L))), rows)
  }

  test("fullOuterAnti rename target collision: left already owns <name>_r") {
    import spark.implicits._
    val l = Seq((1L, "x")).toDF("id", "id_r") // pathological: left has id AND id_r
    val r = Seq((2L, 9.0)).toDF("id", "score")
    val got = JoinOps.fullOuterAnti(l, r, l("id") === r("id"))
    assert(got.columns.distinct.length == got.columns.length,
      s"duplicate output columns: ${got.columns.toSeq}")
    assert(got.columns.contains("id_r_r"), got.columns.toSeq)
    assert(got.count() == 2)
  }

  test("fullOuterAnti rename targets stay unique when BOTH sides share id and id_r") {
    import spark.implicits._
    val l = Seq((1L, "x")).toDF("id", "id_r")
    val r = Seq((2L, "y")).toDF("id", "id_r") // both right columns collide
    val got = JoinOps.fullOuterAnti(l, r, l("id") === r("id"))
    assert(got.columns.distinct.length == got.columns.length,
      s"duplicate output columns: ${got.columns.toSeq}")
    assert(got.count() == 2)
  }

  test("asofJoin: backward inclusive match, ties to right, unmatched stays NULL") {
    import spark.implicits._
    val trades = Seq(
      ("A", 10L, "t1"), // latest quote <= 10 is q@10 (inclusive tie)
      ("A", 15L, "t2"), // latest is q@12
      ("A", 1L, "t3"),  // before any quote -> NULL
      ("B", 50L, "t4"), // B has quotes at 40
      ("C", 5L, "t5"))  // no quotes for C -> NULL
      .toDF("key", "ts", "trade")
    val quotes = Seq(
      ("A", 5L, 1.0), ("A", 10L, 2.0), ("A", 12L, 3.0), ("A", 99L, 9.9),
      ("B", 40L, 4.0),
      (null.asInstanceOf[String], 1L, 8.8)) // NULL key: never matches
      .toDF("key", "ts", "px")
    val got = JoinOps.asofJoin(trades, quotes, "key", "ts")
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got == Map("t1" -> Some(2.0), "t2" -> Some(3.0), "t3" -> None,
      "t4" -> Some(4.0), "t5" -> None), got)
  }

  test("asofJoinTolerance: in-horizon kept, stale nulled, left rows survive, forward mirror") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val trades = Seq(
      ("A", ts("2024-01-01 10:00:00"), "t1"), // quote 30s before -> kept at tol=60
      ("A", ts("2024-01-01 12:00:00"), "t2"), // nearest quote ~2h old -> nulled
      ("C", ts("2024-01-01 10:00:00"), "t3")) // no quotes -> NULL either way
      .toDF("key", "ts", "trade")
    val quotes = Seq(
      ("A", ts("2024-01-01 09:59:30"), 1.0),
      ("A", ts("2024-01-01 12:00:45"), 2.0))
      .toDF("key", "ts", "px")
    def collectPx(df: org.apache.spark.sql.DataFrame): Map[String, Option[Double]] =
      df.collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    val back = collectPx(
      JoinOps.asofJoinTolerance(trades, quotes, "key", "ts", toleranceSeconds = 60))
    assert(back == Map("t1" -> Some(1.0), "t2" -> None, "t3" -> None), back)
    // same rows, forward: t2's next quote is 45s ahead -> kept; t1's next
    // quote is 2h ahead -> nulled
    val fwd = collectPx(JoinOps.asofJoinTolerance(
      trades, quotes, "key", "ts", toleranceSeconds = 60, direction = "forward"))
    assert(fwd == Map("t1" -> None, "t2" -> Some(2.0), "t3" -> None), fwd)
    // the matched-ts column obeys the same null-out as the payload
    val tsNulls = JoinOps.asofJoinTolerance(trades, quotes, "key", "ts", 60)
      .collect().map(r => r.getString(2) -> r.isNullAt(3)).toMap
    assert(tsNulls == Map("t1" -> false, "t2" -> true, "t3" -> true), tsNulls.toString)
    intercept[IllegalArgumentException](
      JoinOps.asofJoinTolerance(trades, quotes, "key", "ts", -1))
  }

  test("asofJoin: duplicate right rows at one (key, ts) resolve deterministically, repartition-stable") {
    import spark.implicits._
    val l = Seq(("A", 10L)).toDF("key", "ts")
    val r = Seq(("A", 5L, 1.0), ("A", 5L, 7.0), ("A", 5L, 3.0)).toDF("key", "ts", "px")
    def run(lf: org.apache.spark.sql.DataFrame, rf: org.apache.spark.sql.DataFrame) =
      JoinOps.asofJoin(lf, rf, "key", "ts").collect().map(_.getDouble(3)).toSeq
    val a = run(l, r)
    val b = run(l.repartition(5), r.repartition(7))
    assert(a == Seq(7.0) && a == b, s"$a vs $b") // struct-max: largest (ts, px)
  }

  test("asofJoin forward: earliest at-or-after match, mirror of backward") {
    import spark.implicits._
    val trades = Seq(
      ("A", 10L, "t1"), // earliest quote >= 10 is q@10 (inclusive tie)
      ("A", 11L, "t2"), // earliest is q@12
      ("A", 100L, "t3"), // after every quote -> NULL
      ("C", 5L, "t4"))   // no quotes -> NULL
      .toDF("key", "ts", "trade")
    val quotes = Seq(("A", 5L, 1.0), ("A", 10L, 2.0), ("A", 12L, 3.0))
      .toDF("key", "ts", "px")
    val got = JoinOps.asofJoin(trades, quotes, "key", "ts", direction = "forward")
      .collect().map(r => r.getString(2) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got == Map("t1" -> Some(2.0), "t2" -> Some(3.0),
      "t3" -> None, "t4" -> None), got)
    intercept[IllegalArgumentException](
      JoinOps.asofJoin(trades, quotes, "key", "ts", direction = "sideways"))
  }

  test("asofJoin: NULL left timestamps match nothing in either direction") {
    import spark.implicits._
    val l = Seq(("A", Some(10L), "t1"), ("A", Option.empty[Long], "t2"))
      .toDF("key", "ts", "trade")
    val r = Seq(("A", 5L, 1.0)).toDF("key", "ts", "px")
    Seq("backward", "forward").foreach { dir =>
      val got = JoinOps.asofJoin(l, r, "key", "ts", direction = dir)
        .collect().map(row => row.getString(2) -> row.isNullAt(4)).toMap
      assert(got("t2"), s"direction=$dir: NULL-ts left row must stay unmatched")
      assert(got("t1") == (dir == "forward"), s"direction=$dir t1") // 10 >= 5 matches backward only
    }
  }

  test("asofJoin with an empty right side: every left row survives, unmatched") {
    import spark.implicits._
    val l = Seq(("A", 10L)).toDF("key", "ts")
    val r = Seq.empty[(String, Long, Double)].toDF("key", "ts", "px")
    val rows = JoinOps.asofJoin(l, r, "key", "ts").collect()
    assert(rows.length == 1 && rows(0).isNullAt(2) && rows(0).isNullAt(3))
  }

  test("asofJoin/rangeJoin reject colliding column names at plan time") {
    import spark.implicits._
    val l = Seq(("A", 10L, 1.0)).toDF("key", "ts", "asof_px") // owns the prefixed name
    val r = Seq(("A", 5L, 2.0)).toDF("key", "ts", "px")
    intercept[IllegalArgumentException](JoinOps.asofJoin(l, r, "key", "ts"))
    val p = Seq((1L, 5.0)).toDF("id", "p")
    val iv = Seq((1L, 0.0, 9.0)).toDF("id", "lo", "hi") // shares "id"
    intercept[IllegalArgumentException](JoinOps.rangeJoin(p, iv, "p", "lo", "hi", 8.0))
  }

  test("rangeJoin equals the raw inequality join, intervals spanning many buckets included") {
    import spark.implicits._
    val pts = (0 until 200).map(i => (i.toLong, (i * 7 % 101).toDouble)).toDF("pid", "p")
    val iv = Seq(
      (1L, Some(3.0), Some(9.0)),    // narrow
      (2L, Some(0.0), Some(100.0)),  // spans every bucket
      (3L, Some(50.0), Some(50.0)),  // degenerate point interval
      (4L, Some(80.0), Some(20.0)),  // inverted: matches nothing
      (5L, None, Some(10.0)))        // NULL lo: matches nothing
      .toDF("iid", "lo", "hi")
    val got = JoinOps.rangeJoin(pts, iv, "p", "lo", "hi", bucketWidth = 8.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want.nonEmpty, s"got ${got.size}, want ${want.size}")
  }

  test("rangeJoin: outlier-wide interval fails fast with the offending bounds in the message") {
    import spark.implicits._
    val pts = Seq((1L, 3.0)).toDF("pid", "p")
    val iv = Seq((10L, 0.0, 4.0), (11L, 0.0, 1e9)).toDF("iid", "lo", "hi")
    // the wide interval would explode ~1e8 buckets at width 8 — the cap
    // must surface a clear error, not an opaque sequence/memory failure
    val e = intercept[Exception](
      JoinOps.rangeJoin(pts, iv, "p", "lo", "hi", bucketWidth = 8.0,
        maxBucketsPerInterval = 1000L).collect())
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(e).exists(m => m.contains("maxBucketsPerInterval") && m.contains("1.0E9")),
      msgs(e).mkString(" | "))
    // within the cap, same data still answers exactly
    val ok = JoinOps.rangeJoin(pts, iv.filter(col("iid") === 10L), "p", "lo", "hi",
      bucketWidth = 8.0, maxBucketsPerInterval = 1000L)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ok == Set((1L, 10L)), ok)
    intercept[IllegalArgumentException](
      JoinOps.rangeJoin(pts, iv, "p", "lo", "hi", 8.0, maxBucketsPerInterval = 0L))
  }

  test("noFollowupWithin: boundary-inclusive horizon, pre-left rows never block") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 00:00:00")), // purchase at +1h -> blocked
      (2L, ts("2024-01-01 00:00:00")), // purchase EXACTLY at horizon -> blocked (<=)
      (3L, ts("2024-01-01 00:00:00")), // purchase 1s past horizon -> kept
      (4L, ts("2024-01-01 00:00:00")), // purchase only BEFORE -> kept
      (5L, ts("2024-01-01 00:00:00"))) // no right rows -> kept
      .toDF("k", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 01:00:00")),
      (2L, ts("2024-01-08 00:00:00")),
      (3L, ts("2024-01-08 00:00:01")),
      (4L, ts("2023-12-31 23:59:59")))
      .toDF("k", "ts")
    val got = JoinOps.noFollowupWithin(left, right, "k", "ts", 604800L)
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 4L, 5L), got.toString)
  }

  test("nearestJoin: closest either direction, tie prefers backward, keyless rows null") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    import spark.implicits._
    val left = Seq(
      (1L, ts("2024-01-01 10:00:00")), // bwd at -60s, fwd at +10s -> fwd
      (1L, ts("2024-01-01 12:00:00")), // only bwd exists
      (2L, ts("2024-01-01 10:00:00")), // equidistant +-30s -> backward wins
      (3L, ts("2024-01-01 10:00:00"))) // no right rows at all
      .toDF("k", "ts")
    val right = Seq(
      (1L, ts("2024-01-01 09:59:00"), "a"),
      (1L, ts("2024-01-01 10:00:10"), "b"),
      (2L, ts("2024-01-01 09:59:30"), "c"),
      (2L, ts("2024-01-01 10:00:30"), "d"))
      .toDF("k", "ts", "tag")
    val got = JoinOps.nearestJoin(left, right, "k", "ts")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString) ->
        Option(r.getString(3))).toMap
    assert(got((1L, "2024-01-01 10:00:00.0")) == Some("b"), got.toString)
    assert(got((1L, "2024-01-01 12:00:00.0")) == Some("b"),
      "only-backward case picks the latest right: " + got)
    assert(got((2L, "2024-01-01 10:00:00.0")) == Some("c"),
      "equidistant tie must prefer backward: " + got)
    assert(got((3L, "2024-01-01 10:00:00.0")) == None, got.toString)
    intercept[IllegalArgumentException](
      JoinOps.nearestJoin(left.withColumn("ts", col("ts").cast("long")), right, "k", "ts"))
  }

  test("fullOuterAnti: ScalaCheck-generated colliding schemas always freshen injectively") {
    import org.scalacheck.Gen
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
    // name pool engineered for collision chains: x/x_r/x_r_r force the
    // freshening loop to hop multiple times; both sides draw from the pool
    val pool = List("x", "x_r", "x_r_r", "k", "k_r", "v")
    val gen = for {
      nl <- Gen.choose(1, 4); nr <- Gen.choose(1, 4)
      ln <- Gen.pick(nl, pool); rn <- Gen.pick(nr, pool)
    } yield (ln.toList, rn.toList)
    def mk(names: List[String], keys: Seq[Int], base: Int) = {
      val schema = StructType(names.map(n => StructField(n, IntegerType)))
      val rows = keys.map(k => Row.fromSeq(k +: names.tail.indices.map(j => base + k * 10 + j)))
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    }
    (0 until 40).foreach { i =>
      val (ln, rn) = gen.pureApply(Gen.Parameters.default, org.scalacheck.rng.Seed(i.toLong))
      val l = mk(ln, Seq(0, 1, 2, 3), 100)
      val r = mk(rn, Seq(2, 3, 4, 5), 500)
      val out = JoinOps.fullOuterAnti(l, r, l(ln.head) === r(rn.head))
      val cols = out.columns.toSeq
      assert(cols.size == cols.distinct.size, s"seed=$i dup cols $cols (ln=$ln rn=$rn)")
      assert(cols.take(ln.size) == ln, s"seed=$i left names must survive verbatim: $cols")
      val rows = out.collect()
      assert(rows.length == 4, s"seed=$i expect 2 left-only + 2 right-only, got ${rows.length}")
      val (leftOnly, rightOnly) = rows.partition(row => !row.isNullAt(0))
      assert(leftOnly.map(_.getInt(0)).toSet == Set(0, 1), s"seed=$i wrong left-anti keys")
      assert(leftOnly.forall(row => (ln.size until cols.size).forall(row.isNullAt)),
        s"seed=$i left-only rows must NULL-pad every right column")
      assert(rightOnly.map(_.getInt(ln.size)).toSet == Set(4, 5),
        s"seed=$i wrong right-anti keys (right key at position ${ln.size})")
      assert(rightOnly.forall(row => (0 until ln.size).forall(row.isNullAt)),
        s"seed=$i right-only rows must NULL-pad every left column")
    }
  }

  test("intervalJoin equals the raw overlap join, each pair exactly once") {
    import spark.implicits._
    // deterministic pseudo-random intervals, widths 0..40 across buckets
    // (bucketWidth 16), negative domain included
    val a = (0 until 120).map { i =>
      val lo = (i * 37 % 300) - 50; (i.toLong, lo, lo + (i * 13 % 41))
    }.toSeq.toDF("aid", "alo", "ahi")
    val b = (0 until 90).map { i =>
      val lo = (i * 53 % 280) - 40; (i.toLong, lo, lo + (i * 7 % 31))
    }.toSeq.toDF("bid", "blo", "bhi")
    val gotAll = JoinOps.intervalJoin(a, b, "alo", "ahi", "blo", "bhi", 16.0)
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = a.join(b, col("alo") <= col("bhi") && col("blo") <= col("ahi"))
      .select("aid", "bid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gotAll.size == gotAll.distinct.size, "ownership rule must emit each pair once")
    assert(gotAll.toSet == want, s"missing=${want -- gotAll.toSet} extra=${gotAll.toSet -- want}")
    assert(want.nonEmpty)
  }

  test("intervalJoin: NULL bounds never match; inverted intervals dropped; guard trips") {
    import spark.implicits._
    val a = Seq((1L, Some(0), Some(10)), (2L, None, Some(5)), (3L, Some(8), Some(2)))
      .toDF("aid", "alo", "ahi")
    val b = Seq((10L, 0, 100)).toDF("bid", "blo", "bhi")
    val got = JoinOps.intervalJoin(a, b, "alo", "ahi", "blo", "bhi", 8.0)
      .select("aid").collect().map(_.getLong(0)).toSeq
    assert(got == Seq(1L), got)
    val wide = Seq((9L, 0, 1000000)).toDF("aid", "alo", "ahi")
    val e = intercept[Exception] {
      JoinOps.intervalJoin(wide, b, "alo", "ahi", "blo", "bhi", 1.0,
        maxBucketsPerInterval = 64).collect()
    }
    assert(e.getMessage.contains("maxBucketsPerInterval"), e.getMessage)
  }

  test("rangeJoin: negative domains bucket correctly (floor, not truncation)") {
    import spark.implicits._
    // floor(-0.5) = -1 while a toward-zero truncation gives 0 — points just
    // below zero must land in the -1 bucket with the intervals they match
    val pts = Seq((1L, -3.0), (2L, -0.5), (3L, 0.5), (4L, -100.0)).toDF("pid", "p")
    val iv = Seq((10L, -4.0, -0.25), (11L, -1.0, 1.0), (12L, -101.0, -99.0))
      .toDF("iid", "lo", "hi")
    val got = JoinOps.rangeJoin(pts, iv, "p", "lo", "hi", bucketWidth = 8.0)
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val want = pts.join(iv, col("p") >= col("lo") && col("p") <= col("hi"))
      .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && want == Set((1L, 10L), (2L, 10L), (2L, 11L), (3L, 11L), (4L, 12L)),
      s"got $got")
  }

  test("coalesceIntervals: nested interval swallows followers (running max, not lag)") {
    import spark.implicits._
    // [0,100] contains [10,20] and [30,40]; a lag(end)-based island flag
    // would wrongly open a new island at [30,40] (prev END is 20 < 30)
    val iv = Seq((1L, 0L, 100L), (1L, 10L, 20L), (1L, 30L, 40L), (1L, 150L, 160L))
      .toDF("k", "s", "e")
    val got = JoinOps.coalesceIntervals(iv, "k", "s", "e")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(_._1).toSeq
    assert(got == Seq((1L, 0L, 100L, 3L), (2L, 150L, 160L, 1L)), got)
  }

  test("coalesceIntervals: touching merges, 1-apart splits, per-key isolation") {
    import spark.implicits._
    val iv = Seq((1L, 0L, 10L), (1L, 10L, 20L), (1L, 21L, 30L),
      (2L, 5L, 6L)).toDF("k", "s", "e")
    val got = JoinOps.coalesceIntervals(iv, "k", "s", "e")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(got == Seq((1L, 1L, 0L, 20L, 2L), (1L, 2L, 21L, 30L, 1L),
      (2L, 1L, 5L, 6L, 1L)), got)
  }

  test("coalesceIntervals: NULL bounds dropped, inverted interval raises") {
    import spark.implicits._
    val withNull = Seq((1L, Some(0L), Some(5L)), (1L, None, Some(9L)), (1L, Some(7L), None))
      .toDF("k", "s", "e")
    val got = JoinOps.coalesceIntervals(withNull, "k", "s", "e").collect()
    assert(got.length == 1 && got(0).getLong(2) == 0L && got(0).getLong(3) == 5L)
    val inverted = Seq((1L, 10L, 3L)).toDF("k", "s", "e")
    val e = intercept[Exception] {
      JoinOps.coalesceIntervals(inverted, "k", "s", "e").collect()
    }
    assert(e.getMessage.contains("inverted interval"), e.getMessage)
  }

  test("interpolateJoin: linear blend, exact hit, edge clamp, empty series NULL") {
    import java.sql.Timestamp
    def ts(s: String) = Timestamp.valueOf(s)
    import spark.implicits._
    val probes = Seq(
      (1L, ts("2024-01-01 10:00:15")), // between 10.0@:10 and 30.0@:20 -> 20.0
      (1L, ts("2024-01-01 10:00:12")), // 10 + 20*(2/10) = 14.0
      (1L, ts("2024-01-01 10:00:10")), // exact hit -> 10.0
      (1L, ts("2024-01-01 10:00:05")), // before first -> clamp 10.0
      (1L, ts("2024-01-01 10:00:25")), // after last -> clamp 30.0
      (2L, ts("2024-01-01 10:00:00"))) // no series -> NULL
      .toDF("k", "ts")
    val series = Seq(
      (1L, ts("2024-01-01 10:00:10"), 10.0),
      (1L, ts("2024-01-01 10:00:20"), 30.0))
      .toDF("k", "ts", "v")
    val got = JoinOps.interpolateJoin(probes, series, "k", "ts", "v")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString) ->
        (if (r.isNullAt(4)) None else Some(r.getDouble(4)))).toMap
    assert(got((1L, "2024-01-01 10:00:15.0")) == Some(20.0), got.toString)
    assert(got((1L, "2024-01-01 10:00:12.0")) == Some(14.0), got.toString)
    assert(got((1L, "2024-01-01 10:00:10.0")) == Some(10.0), "exact hit snaps")
    assert(got((1L, "2024-01-01 10:00:05.0")) == Some(10.0), "left clamp")
    assert(got((1L, "2024-01-01 10:00:25.0")) == Some(30.0), "right clamp")
    assert(got((2L, "2024-01-01 10:00:00.0")) == None, "empty series")
    intercept[IllegalArgumentException](JoinOps.interpolateJoin(
      probes.withColumn("ts", col("ts").cast("long")), series, "k", "ts", "v"))
  }
}
