package graft

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.engine.GraftSession

/** Optimizer-parity properties (FIXTURES.md §5): the rewrites the reference
  * performs must be semantics-preserving in our engine — optimized and
  * naive formulations return identical result sets.
  */
class PropertiesSpec extends AnyFunSuite {
  lazy val spark = { val s = TestSpark.spark; GraftSession.useDir(s, TestSpark.sfDir); s }

  private def assertSameResult(a: DataFrame, b: DataFrame, hint: String): Unit = {
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty,
      s"$hint: results differ (${a.count()} vs ${b.count()} rows)")
  }

  test("comma-join form ≡ explicit JOIN form (rewrite preserves results)") {
    val pairs = Seq(
      ("SELECT c.c_name, o.o_orderkey FROM customer c, orders o WHERE c.c_custkey = o.o_custkey",
       "SELECT c.c_name, o.o_orderkey FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey"),
      ("SELECT c.c_name, n.n_name FROM customer c, nation n WHERE c.c_nationkey = n.n_nationkey AND c.c_acctbal > 5000",
       "SELECT c.c_name, n.n_name FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE c.c_acctbal > 5000"),
      ("SELECT c.c_name, o.o_orderkey, n.n_name FROM customer c, orders o, nation n WHERE c.c_custkey = o.o_custkey AND c.c_nationkey = n.n_nationkey AND o.o_orderstatus = 'F'",
       "SELECT c.c_name, o.o_orderkey, n.n_name FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey JOIN nation n ON c.c_nationkey = n.n_nationkey WHERE o.o_orderstatus = 'F'"))
    pairs.zipWithIndex.foreach { case ((comma, explicit), i) =>
      assertSameResult(spark.sql(comma), spark.sql(explicit), s"pair $i")
    }
  }

  test("scalar-subquery form ≡ LEFT JOIN form (decorrelation preserves results)") {
    val sub = spark.sql(
      """SELECT c.c_custkey, (SELECT n.n_name FROM nation n WHERE n.n_nationkey = c.c_nationkey) AS nn
         FROM customer c""")
    val join = spark.sql(
      """SELECT c.c_custkey, n.n_name AS nn
         FROM customer c LEFT JOIN nation n ON n.n_nationkey = c.c_nationkey""")
    assertSameResult(sub, join, "decorrelation")
  }

  test("filter order permutations yield identical results (pushdown invariance)") {
    val base = GraftSession.table(spark, TestSpark.sfDir, "orders")
    import org.apache.spark.sql.functions.col
    val f1 = col("o_totalprice") > 100000.0
    val f2 = col("o_orderstatus") === "O"
    val f3 = col("o_custkey") < 1000L
    val perms = Seq(Seq(f1, f2, f3), Seq(f3, f1, f2), Seq(f2, f3, f1))
    val results = perms.map(fs => fs.foldLeft(base)((d, f) => d.filter(f)))
    results.tail.foreach(r => assertSameResult(results.head, r, "filter permutation"))
  }

  test("LIMIT n is a subset of the unlimited result") {
    val all = spark.sql("SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0")
      .collect().map(_.getLong(0)).toSet
    val limited = spark.sql("SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0 LIMIT 20")
      .collect().map(_.getLong(0)).toSet
    assert(limited.size == math.min(20, all.size) && limited.subsetOf(all))
  }

  test("CBO on/off produces identical flagship results") {
    val q = SparkEntry.oracleSql("q29_flagship")
    val on = spark.sql(q)
    val prev = spark.conf.get("spark.sql.cbo.enabled")
    try {
      spark.conf.set("spark.sql.cbo.enabled", "false")
      val off = spark.sql(q)
      assertSameResult(on, off, "cbo on/off")
    } finally spark.conf.set("spark.sql.cbo.enabled", prev)
  }

  test("rewrittenSql, when defined, always round-trips to identical results (GROUP BY/HAVING family)") {
    import graft.engine.QueryEngine
    val tables = Seq(
      "orders" -> "o_custkey",
      "customer JOIN orders ON c_custkey = o_custkey" -> "c_nationkey")
    val wheres = Seq("", " WHERE o_totalprice > 100000.0")
    val havings = Seq("", " HAVING COUNT(*) >= 5", " HAVING SUM(CAST(o_totalprice AS DECIMAL(12,2))) > 1000000.00")
    val tails = Seq("", " ORDER BY n DESC, 1 LIMIT 7")
    var rendered = 0
    for ((from, key) <- tables; w <- wheres; h <- havings; t <- tails) {
      val q = s"SELECT $key, COUNT(*) AS n FROM $from$w GROUP BY $key$h$t"
      val rep = QueryEngine.run(spark, s"EXPLAIN $q")
      rep.rewrittenSql.foreach { rw =>
        rendered += 1
        val a = spark.sql(q).collect().map(_.toString).sorted
        val b = spark.sql(rw).collect().map(_.toString).sorted
        assert(a.sameElements(b), s"round-trip mismatch\n  original : $q\n  rewritten: $rw")
      }
    }
    // the family must not silently regress to all-None: most simple
    // GROUP BY/HAVING shapes without ORDER BY positional refs do render
    assert(rendered >= 12, s"only $rendered of 24 shapes rendered rewritten SQL")
  }

  test("PPJoin-filtered Jaccard ≡ brute-force pairs on random corpora") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "beta", "gamma", "delta", "eps", "zeta", "eta",
      "theta", "iota", "kappa", "lambda", "mu", "nu", "xi", "omicron", "pi")
    // random 3-8 token docs over a 16-word vocab, 2 blocks, 3 seeds
    (0 until 3).foreach { seed =>
      val docs = (0 until 60).map { i =>
        val n = 3 + rnd.nextInt(6)
        (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).distinct.mkString(" "),
          s"b${i % 2}")
      }.toDF("doc_id", "text", "source")
      val fast = graft.operators.Dedup
        .ngramJaccardPairs(docs, "doc_id", "text", "source", 0.5)
        .select("doc_a", "doc_b", "jaccard")
      // brute force: all within-block pairs, exact set jaccard
      val toks = docs.select(col("doc_id"), col("source"),
        array_distinct(split(col("text"), " ")).as("t"))
      val brute = toks.as("a").join(toks.as("b"),
          col("a.source") === col("b.source") && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
          (size(array_intersect(col("a.t"), col("b.t"))).cast("double") /
            size(array_union(col("a.t"), col("b.t")))).as("jaccard"))
        .filter(col("jaccard") >= 0.5)
      assertSameResult(fast, brute, s"ppjoin exactness seed=$seed")
    }
  }

  test("sketch states: merge ≡ from-scratch under random data and random shard splits (HLL, KMV, log-bucket)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    import graft.operators.Profile
    val rnd = new scala.util.Random(37)
    (0 until 3).foreach { trial =>
      // random multiset: duplicate-heavy strings + signed longs spanning
      // magnitudes, random shard count — the deterministic family specs
      // pin fixed splits; this pins the ALGEBRA under arbitrary ones
      val n = 200 + rnd.nextInt(400)
      val rows = (0 until n).map { i =>
        (i.toLong, s"v${rnd.nextInt(300)}",
          (rnd.nextInt(2000001) - 1000000).toLong)
      }
      val vals = rows.toDF("id", "s", "num")
      val shards = 2 + rnd.nextInt(4)
      def split(d: DataFrame) =
        (0 until shards).map(j => d.filter(pmod(col("id"), lit(shards)) === j))
      // HLL: register-max merge
      val hWhole = Profile.hllState(vals, "s", 7).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      val hMerged = Profile.mergeHllStates(
        split(vals).map(Profile.hllState(_, "s", 7)): _*).collect()
        .map(r => (r.getInt(0), r.getInt(1))).toSet
      assert(hMerged == hWhole, s"trial=$trial shards=$shards: HLL merge drifted")
      // KMV: bottom-k-of-union merge
      val kWhole = Profile.kmvState(vals, "s", 96).collect()
        .map(_.getLong(0)).toSet
      val kMerged = Profile.mergeKmvStates(96,
        split(vals).map(Profile.kmvState(_, "s", 96)): _*).collect()
        .map(_.getLong(0)).toSet
      assert(kMerged == kWhole, s"trial=$trial shards=$shards: KMV merge drifted")
      // log-bucket: count-addition merge over signed magnitudes
      val lWhole = Profile.logBucketState(vals, "num", 5).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      val lMerged = Profile.mergeLogBucketStates(
        split(vals).map(Profile.logBucketState(_, "num", 5)): _*).collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3))).toSet
      assert(lMerged == lWhole, s"trial=$trial shards=$shards: log-bucket merge drifted")
      // estimator sanity against the exact NDV (generous 5-sigma-ish
      // bands — the tight accuracy pins live in the family specs; this
      // guards against an algebra break that merges cleanly but estimates
      // nonsense)
      val ndv = rows.map(_._2).distinct.size.toDouble
      val est = Profile.distinctFromHllState(
        Profile.hllState(vals, "s", 7), 7).collect()(0).getDouble(5)
      assert(math.abs(est - ndv) / ndv <= 0.5, s"trial=$trial: HLL est $est vs ndv $ndv")
      val kEst = Profile.kmvOverlap(
        Profile.kmvState(vals, "s", 96), Profile.kmvState(vals, "s", 96), 96)
        .collect()(0)
      assert(kEst.getDouble(5) == 1.0, "self-overlap Jaccard must be exactly 1")
      assert(math.abs(kEst.getDouble(6) - ndv) / ndv <= 0.6,
        s"trial=$trial: KMV union est ${kEst.getDouble(6)} vs ndv $ndv")
    }
  }

  test("asofJoin ≡ per-row brute-force reference on random data, both directions") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    (0 until 3).foreach { seed =>
      // small ts range (0..19) over few keys → dense duplicate/tie
      // coverage; 1-in-8 NULL left timestamps (SQL: can never match —
      // exactly the case the forward direction's desc NULLS LAST once got
      // wrong)
      val left = (0 until 80).map(i =>
        (s"k${rnd.nextInt(5)}",
          if (rnd.nextInt(8) == 0) None else Some(rnd.nextInt(20).toLong),
          i.toLong))
      val right = (0 until 60).map(i =>
        (s"k${rnd.nextInt(6)}", rnd.nextInt(20).toLong, i.toLong * 10))
      // unique (key, ts) on the right — the deterministic-contract shape
      val rightU = right.groupBy(r => (r._1, r._2)).map { case ((k, t), rs) =>
        (k, t, rs.map(_._3).max) }.toSeq
      val lDf = left.toDF("key", "ts", "lid")
      val rDf = rightU.toDF("key", "ts", "payload")
      Seq("backward", "forward").foreach { dir =>
        val got = graft.operators.JoinOps
          .asofJoin(lDf, rDf, "key", "ts", direction = dir)
          .collect().map(r => r.getLong(2) ->
            (if (r.isNullAt(4)) None else Some(r.getLong(4)))).toMap
        left.foreach { case (k, tsOpt, lid) =>
          val want = tsOpt.flatMap { ts =>
            val cands = rightU.filter(r => r._1 == k &&
              (if (dir == "backward") r._2 <= ts else r._2 >= ts))
            if (cands.isEmpty) None
            else if (dir == "backward") Some(cands.maxBy(_._2)._3)
            else Some(cands.minBy(_._2)._3)
          }
          assert(got(lid) == want, s"seed=$seed dir=$dir left=($k,$tsOpt,$lid)")
        }
      }
    }
  }

  test("interpolateJoin ≡ per-row brute-force blend on random series") {
    import spark.implicits._
    import java.sql.Timestamp
    val rnd = new scala.util.Random(31)
    (0 until 3).foreach { seed =>
      def ts(s: Long) = new Timestamp(s * 1000L)
      val probes = (0 until 60).map(i => (s"k${rnd.nextInt(4)}", ts(rnd.nextInt(40).toLong), i.toLong))
      // unique (key, ts) series, integer-valued doubles
      val series = (0 until 50).map(i => (s"k${rnd.nextInt(5)}", rnd.nextInt(40).toLong, (rnd.nextInt(100) + 1).toDouble))
        .groupBy(r => (r._1, r._2)).map { case ((k, t), rs) => (k, t, rs.map(_._3).max) }.toSeq
      val lDf = probes.toDF("key", "ts", "pid")
      val rDf = series.map { case (k, t, v) => (k, ts(t), v) }.toDF("key", "ts", "v")
      val got = graft.operators.JoinOps.interpolateJoin(lDf, rDf, "key", "ts", "v")
        .collect().map(r => r.getLong(2) ->
          (if (r.isNullAt(5)) None else Some(r.getDouble(5)))).toMap
      probes.foreach { case (k, t, pid) =>
        val tSec = t.getTime / 1000L
        val pts = series.filter(_._1 == k)
        val bwd = pts.filter(_._2 <= tSec).sortBy(_._2).lastOption
        val fwd = pts.filter(_._2 >= tSec).sortBy(_._2).headOption
        val want = (bwd, fwd) match {
          case (None, None) => None
          case (None, Some((_, _, fv))) => Some(fv)
          case (Some((_, _, bv)), None) => Some(bv)
          case (Some((_, tb, bv)), Some((_, tf, fv))) =>
            if (tf == tb) Some(bv)
            // same fixed-order fp blend as the operator (μs ratio ==
            // seconds ratio: correctly-rounded division of the same real)
            else Some(bv + (fv - bv) * ((tSec - tb).toDouble / (tf - tb)))
        }
        assert(got(pid) == want, s"seed=$seed probe=($k,$tSec,$pid)")
      }
    }
  }

  test("giniConcentration: bounds [0,1) and exact scale invariance on random masses") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    (0 until 3).foreach { seed =>
      val rows = (0 until 120).map(i => (s"g${rnd.nextInt(5)}", rnd.nextInt(101).toLong))
      def gini(scale: Long) = graft.operators.Profile
        .giniConcentration(rows.map { case (g, m) => (g, m * scale) }.toDF("g", "m"),
          Seq("g"), "m")
        .collect().map(r => r.getString(0) ->
          (if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
      val base = gini(1L)
      base.foreach { case (g, v) =>
        v.foreach(x => assert(x >= 0.0 && x < 1.0, s"seed=$seed $g gini=$x out of [0,1)"))
      }
      // scaling every mass by a constant rescales numerator and
      // denominator by the same integer: the correctly-rounded quotient
      // of the same real value — bit-equal, not approximately equal
      assert(gini(7L) == base, s"seed=$seed scale invariance")
    }
  }

  test("frequentItems ≡ exact threshold set on random Zipf-ish draws") {
    import spark.implicits._
    val rnd = new scala.util.Random(53)
    (0 until 3).foreach { seed =>
      // Zipf-ish: value v drawn with weight ~ 1/(v+1) over 30 values
      val draws = (0 until 3000).map { _ =>
        val r = rnd.nextDouble()
        var acc = 0.0; var v = 0
        val h = (0 until 30).map(i => 1.0 / (i + 1)); val tot = h.sum
        while (acc / tot < r && v < 29) { acc += h(v); v += 1 }
        s"tok$v"
      }
      val k = 8
      val exact = draws.groupBy(identity).view.mapValues(_.size.toLong).toMap
        .filter { case (_, c) => c * (k + 1) > draws.size }
      val got = graft.operators.Profile.frequentItems(draws.toDF("v"), "v", k)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got == exact, s"seed=$seed got=$got exact=$exact")
    }
  }
}
