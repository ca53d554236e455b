package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Dedup

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog again and again today"
  private def docs = Seq(
    (1L, base, "s0"),
    (2L, base, "s0"),                                  // exact dup of 1
    (3L, base.replace("today", "tomorrow"), "s0"),     // near dup of 1
    (4L, "completely different text about spark sql engines and optimizers", "s0"),
    (5L, "another unrelated document mentioning databases and storage layers", "s1")
  ).toDF("doc_id", "text", "source")

  test("exactClusters keeps min id and counts copies") {
    val m = Dedup.exactClusters(docs, "doc_id", "text")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(m(base) == (1L, 2L))
    assert(m.size == 4)
  }

  test("fingerprintClusters is whitespace/case invariant") {
    val noisy = Seq((1L, "Hello  World"), (2L, "hello world"), (3L, "other")).toDF("doc_id", "text")
    val m = Dedup.fingerprintClusters(noisy, "doc_id", "text").collect()
    assert(m.length == 2)
    assert(m.map(_.getLong(2)).sorted.toSeq == Seq(1L, 2L))
  }

  test("fingerprint normalizes edge tabs/newlines, not just edge spaces") {
    // trim() strips spaces only: collapse-then-trim must make "foo\n",
    // "foo  " and "foo" one cluster
    val noisy = Seq((1L, "foo\n"), (2L, "foo  "), (3L, "foo"), (4L, "\tfoo")).toDF("doc_id", "text")
    val m = Dedup.fingerprintClusters(noisy, "doc_id", "text").collect()
    assert(m.length == 1, m.toSeq.toString)
    assert(m(0).getLong(2) == 4L)
  }

  test("minhash LSH finds exact and near duplicates, skips unrelated") {
    val pairs = Dedup.minhashNearDuplicates(docs, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 1.0) // identical signature
    assert(byPair.contains((1L, 3L)) || byPair.contains((2L, 3L))) // near dup
    assert(!byPair.keys.exists { case (a, b) => Set(a, b).contains(4L) || Set(a, b).contains(5L) })
  }

  test("simhash: identical docs at hamming 0, near-dups close, unrelated far") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    assert(java.lang.Long.bitCount(sh(1L) ^ sh(3L)) < java.lang.Long.bitCount(sh(1L) ^ sh(4L)))
    val pairs = Dedup.simhashNearDuplicates(docs, "doc_id", "text", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((1L, 2L)))
  }

  test("crossCorpusContamination finds cross-corpus near-dups only, never within-corpus pairs") {
    val train = Seq(
      (1L, base),                                    // contaminated: near eval 11
      (2L, base),                                    // exact dup of 1 (within-train: must NOT pair)
      (3L, "completely different text about spark sql engines and optimizers"))
      .toDF("doc_id", "text")
    val eval = Seq(
      (11L, base.replace("today", "tomorrow")),      // near-dup of train 1 and 2
      (12L, "an entirely novel benchmark prompt about graph algorithms"),
      (13L, "another unrelated evaluation document mentioning storage"))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .crossCorpusContamination(train, eval, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((1L, 11L), (2L, 11L)), got)
  }

  test("decontaminate drops exactly the leaked training docs, keeps the rest intact") {
    val train = Seq(
      (1L, base),
      (2L, base),
      (3L, "completely different text about spark sql engines and optimizers"))
      .toDF("doc_id", "text")
    val eval = Seq((11L, base.replace("today", "tomorrow"))).toDF("doc_id", "text")
    val kept = graft.operators.Dedup
      .decontaminate(train, eval, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kept == Set((3L, "completely different text about spark sql engines and optimizers")), kept)
  }

  test("exactNgramContamination: shared-gram counts match the set-intersection definition") {
    val train = Seq(
      (1L, "a b c d e f"),   // shares 4-grams with eval 11
      (2L, "z y x w v u"),   // clean
      (3L, "a b c"),         // short doc: single whole-sequence gram, matches eval 13
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val eval = Seq(
      (11L, "x a b c d e q"), // grams "a b c d"/"b c d e" shared with train 1
      (12L, "entirely novel eval prompt"),
      (13L, "a b c"))         // exact short-doc collision with train 3
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .exactNgramContamination(train, eval, "doc_id", "text", n = 4)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    assert(got == Map((1L, 11L) -> 2L, (3L, 13L) -> 1L), got)
  }

  test("exactNgramContamination: compressed-gram join gives identical pairs and counts") {
    val docs = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "documents")
    val train = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10)) =!= 0)
    val eval = docs.filter(org.apache.spark.sql.functions.pmod(
      org.apache.spark.sql.functions.col("doc_id"),
      org.apache.spark.sql.functions.lit(10)) === 0)
    def run(compress: Boolean) = graft.operators.Dedup
      .exactNgramContamination(train, eval, "doc_id", "text", n = 8,
        compressGrams = compress)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val raw = run(false)
    assert(run(true) == raw && raw.nonEmpty)
  }

  test("exactNgramContamination: minShared filters weak overlaps; duplicate grams count once") {
    // "a b a b a b" has 3 occurrences of gram "a b" but only ONE distinct
    // 2-gram of each kind — sharing must count distinct grams, not sites
    val train = Seq((1L, "a b a b a b")).toDF("doc_id", "text")
    val eval = Seq((11L, "b a b a")).toDF("doc_id", "text")
    val weak = graft.operators.Dedup
      .exactNgramContamination(train, eval, "doc_id", "text", n = 2, minShared = 3)
    assert(weak.count() == 0)
    val got = graft.operators.Dedup
      .exactNgramContamination(train, eval, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(2))
    assert(got.sameElements(Array(2L))) // distinct shared grams: "a b", "b a"
  }

  test("duplicateSpans: planted passage reported once, maximal, at exact offsets") {
    val passage = (1 to 20).map(i => s"p$i").mkString(" ")
    val docs = Seq(
      (1L, s"x1 x2 x3 $passage x4"),       // passage at 1-based token 4
      (2L, s"y1 $passage y2 y3"),          // passage at token 2
      (3L, "entirely unrelated filler words only here"),
      (4L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val got = graft.operators.Dedup
      .duplicateSpans(docs, "doc_id", "text", n = 8, minSpanTokens = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    // ONE maximal row — not one per constituent 8-gram run prefix
    assert(got.toSeq == Seq((1L, 2L, 4L, 2L, 20L)), got.toSeq)
  }

  test("duplicateSpans: minSpanTokens gates; a passage repeated in one doc yields one row per site") {
    val p = (1 to 11).map(i => s"q$i").mkString(" ") // 11-token passage
    val docs = Seq(
      (1L, s"$p z1 z2 z3 z4 z5 z6 z7 z8 $p"), // twice in doc 1 (offsets 1 and 20)
      (2L, s"w1 w2 $p"))                       // once in doc 2 (offset 3)
      .toDF("doc_id", "text")
    val below = graft.operators.Dedup
      .duplicateSpans(docs, "doc_id", "text", n = 8, minSpanTokens = 12)
    assert(below.count() == 0, "an 11-token passage must not pass minSpanTokens = 12")
    val got = graft.operators.Dedup
      .duplicateSpans(docs, "doc_id", "text", n = 8, minSpanTokens = 11)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // two alignment diagonals — one per occurrence site in doc 1
    assert(got == Set((1L, 2L, 1L, 3L, 11L), (1L, 2L, 20L, 3L, 11L)), got)
  }

  test("duplicateSpans: maxGramDf prunes boilerplate passages, keeps rare ones intact") {
    val boiler = (1 to 15).map(i => s"b$i").mkString(" ")
    val rare = (1 to 15).map(i => s"r$i").mkString(" ")
    val docs = (Seq.tabulate(5)(k => (k + 1L, s"f$k $boiler")) ++
      Seq((10L, s"g1 g2 $rare"), (11L, s"$rare h1")))
      .toDF("doc_id", "text")
    val capped = graft.operators.Dedup
      .duplicateSpans(docs, "doc_id", "text", n = 8, minSpanTokens = 12, maxGramDf = Some(3))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    // boilerplate grams live in 5 docs > cap 3 — every boilerplate span is
    // cut; the rare passage (df = 2) is untouched and still maximal
    assert(capped == Set((10L, 11L, 3L, 1L, 15L)), capped)
    val uncapped = graft.operators.Dedup
      .duplicateSpans(docs, "doc_id", "text", n = 8, minSpanTokens = 12)
      .collect()
    assert(uncapped.length == 11, s"all 10 boilerplate pairs + the rare pair: ${uncapped.length}")
  }

  test("duplicateSpans: brute-force equivalence on a low-entropy corpus") {
    val rnd = new scala.util.Random(42)
    val vocab = Array("a", "b", "c", "d")
    val corpus = (1L to 12L).map(id =>
      (id, Array.fill(40)(vocab(rnd.nextInt(vocab.length))).mkString(" ")))
    val got = graft.operators.Dedup
      .duplicateSpans(corpus.toDF("doc_id", "text"), "doc_id", "text", n = 2, minSpanTokens = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    val expected = (for {
      (ia, ta) <- corpus; (ib, tb) <- corpus if ia < ib
      s <- bruteSpans(ta.split(" "), tb.split(" "), n = 2, minSpan = 3)
    } yield (ia, ib, s._1, s._2, s._3)).toSet
    assert(expected.nonEmpty, "fixture must actually contain shared spans")
    assert(got == expected,
      s"missing=${(expected -- got).take(5)} extra=${(got -- expected).take(5)}")
  }

  /** Direct-definition twin of duplicateSpans for one doc pair: all maximal
    * diagonal runs of matching n-grams, as (start_a, start_b, span_tokens)
    * with 1-based offsets.
    */
  private def bruteSpans(a: Array[String], b: Array[String],
      n: Int, minSpan: Int): Seq[(Long, Long, Long)] = {
    def gr(t: Array[String]) = t.sliding(n).map(_.mkString(" ")).toArray
    val (ga, gb) = (gr(a), gr(b))
    val matches = for { i <- ga.indices; j <- gb.indices if ga(i) == gb(j) } yield (i, j)
    matches.groupBy { case (i, j) => i - j }.toSeq.flatMap { case (diag, ms) =>
      val runs = scala.collection.mutable.ListBuffer.empty[scala.collection.mutable.ListBuffer[Int]]
      for (i <- ms.map(_._1).sorted) {
        if (runs.nonEmpty && runs.last.last == i - 1) runs.last += i
        else runs += scala.collection.mutable.ListBuffer(i)
      }
      runs.toSeq.map(r => (r.head + 1L, (r.head - diag) + 1L, (r.size + n - 1).toLong))
        .filter(_._3 >= minSpan)
    }
  }

  test("shingles: short-text fallback hashes the canonical single-space form") {
    import org.apache.spark.sql.functions.col
    val df = Seq((1L, "a  b"), (2L, "a b")).toDF("doc_id", "text")
    val sh = df.select(Dedup.shingles(col("text"), 3).as("s"))
      .collect().map(_.getSeq[String](0))
    assert(sh(0) == sh(1), s"interior whitespace runs must not change short-doc shingles: ${sh.toSeq}")
  }

  test("connectedComponents works with reliable (DFS) checkpointing") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    spark.sparkContext.setCheckpointDir(dir)
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("checkpoint dir configured => connectedComponents defaults to reliable checkpoints") {
    // GraftSession.build always sets a checkpoint dir; give this run its own
    // so the reliable-path writes are observable on disk
    val prev = spark.sparkContext.getCheckpointDir
    val dir = java.nio.file.Files.createTempDirectory("graft-ckpt-default")
    spark.sparkContext.setCheckpointDir(dir.toString)
    try {
      val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
      val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b") // default resolution
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(comp == Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
      // reliable checkpoints materialized under the configured dir
      val wrote = java.nio.file.Files.walk(dir)
        .filter(p => java.nio.file.Files.isRegularFile(p)).count()
      assert(wrote > 0, s"expected reliable checkpoint files under $dir")
    } finally prev.foreach(spark.sparkContext.setCheckpointDir)
  }

  test("ngramJaccardPairs computes exact jaccard with blocking") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(pairs((1L, 2L)) == 1.0)
    val j13 = pairs((1L, 3L))
    assert(j13 > 0.5 && j13 < 1.0)
    // doc 5 is in another block: no cross-block pair may appear
    assert(!pairs.keys.exists { case (a, b) => a == 5L || b == 5L })
  }

  test("budget gate: within budget, gated pairs are bit-identical to ungated") {
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val ungated = asSet(Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 0.5))
    val gated = asSet(Dedup.ngramJaccardPairsBudgeted(docs, "doc_id", "text",
      "source", 0.5, maxCandidates = 1000000L))
    assert(gated == ungated && gated.nonEmpty)
  }

  // the degenerate no-vocabulary-growth fixture: every doc identical, one
  // block — PPJoin's provable worst case (dfp = N for every prefix token)
  private def degen(n: Int) = (1 to n).map(i => (i.toLong, "a b c d e f g h", "all"))
    .toDF("doc_id", "text", "source")

  test("budget gate: over budget fails loudly naming bound, budget, worst block") {
    // n=30, sz=8, t=0.5 -> prefix len 5, bound = 5*C(30,2) = 2175
    val e = intercept[IllegalStateException](
      Dedup.ngramJaccardPairsBudgeted(degen(30), "doc_id", "text", "source",
        0.5, maxCandidates = 1000L))
    assert(e.getMessage.contains("2175") && e.getMessage.contains("1000")
      && e.getMessage.contains("'all'"), e.getMessage)
  }

  test("budget gate: guard mode returns the 1-row decision frame") {
    val rows = Dedup.ngramJaccardPairsBudgeted(degen(30), "doc_id", "text",
      "source", 0.5, maxCandidates = 1000L, onExceed = "guard").collect()
    assert(rows.length == 1)
    assert(rows(0).getLong(0) == 2175L)  // candidate_pairs
    assert(rows(0).getLong(1) == 30L)    // max_prefix_df = N
    assert(rows(0).getLong(2) == 1000L)  // budget echoed
  }

  test("budget gate: minhash fallback returns the banded sibling's pairs") {
    val fell = Dedup.ngramJaccardPairsBudgeted(degen(30), "doc_id", "text",
      "source", 0.5, maxCandidates = 1000L, onExceed = "minhash")
    assert(fell.columns.toSeq == Seq("doc_a", "doc_b", "jaccard"))
    val direct = Dedup.minhashNearDuplicates(degen(30), "doc_id", "text",
      threshold = 0.5).withColumnRenamed("est_jaccard", "jaccard")
    assert(fell.collect().map(_.toSeq).toSet == direct.collect().map(_.toSeq).toSet)
    assert(fell.count() == 30L * 29 / 2) // identical docs: every pair found
  }

  test("containmentPairs budget gate: over fails loudly, under is unchanged") {
    val e = intercept[IllegalStateException](
      Dedup.containmentPairs(degen(30), "doc_id", "text", "source", 0.8,
        maxCandidates = 100L))
    assert(e.getMessage.contains("exceeds budget 100"), e.getMessage)
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gated = asSet(Dedup.containmentPairs(docs, "doc_id", "text", "source",
      0.8, maxCandidates = 1000000L))
    assert(gated == asSet(Dedup.containmentPairs(docs, "doc_id", "text", "source", 0.8)))
  }

  test("dedupCorpus keeps one representative per exact/near-dup cluster") {
    val kept = Dedup.dedupCorpus(docs, "doc_id", "text", minhashThreshold = 0.5)
      .collect().map(_.getLong(0)).toSet
    // 1,2 exact dups and 3 near-dup of 1 → keep 1 only; 4 and 5 unrelated
    assert(kept == Set(1L, 4L, 5L), kept)
  }

  test("shingles: short text falls back to whole-text shingle") {
    val one = Seq((1L, "tiny text")).toDF("doc_id", "text")
    val sig = Dedup.minhashNearDuplicates(one, "doc_id", "text").collect()
    assert(sig.isEmpty) // no pairs from a single doc; computation must not fail
  }

  test("transitive dedupCorpus drops doc_a-only transitive dups greedy keeps") {
    // 1, 2, 10 mutually near-dup by construction; with ids arranged so doc 2
    // only ever appears as doc_a, greedy keeps {1, 2}, transitive keeps {1}
    val tri = Seq(
      (1L, base, "s0"), (2L, base + " x", "s0"), (10L, base + " y", "s0"),
      (20L, "completely different text about spark sql engines", "s0"))
      .toDF("doc_id", "text", "source")
    val transitive = Dedup.dedupCorpus(tri, "doc_id", "text",
        minhashThreshold = 0.5, transitive = true)
      .collect().map(_.getLong(0)).toSet
    assert(transitive == Set(1L, 20L), transitive)
  }

  test("connectedComponents closes transitive chains greedy resolution misses") {
    // chain 1-2, 2-3, 3-4 plus isolated pair 10-11: two components
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L), comp)
    assert(comp(10L) == 10L && comp(11L) == 10L)
  }

  test("ngramJaccardPairs keeps the exact-threshold pair where FP ceil overshoots") {
    // B = 11-token subset of 20-token A, t = 0.55: J = 11/20 = 0.55 exactly,
    // and 20*0.55 = 11.000000000000002 in doubles. Without the EPS guards
    // this pair dies three ways: A's prefix shrinks from 10 to 9 (its 9
    // df=1 unique tokens rank 1-9, so the first shared token sits at rank
    // 10), the size-ratio prune computes 11 >= 11.000000000000002 = false,
    // and needOverlap ceils 11.000000000000002 to 12 > the exact bound 11.
    val shared = (1 to 11).map(i => s"c$i")
    val unique = (1 to 9).map(i => s"u$i")
    val docs = Seq(
      (1L, (unique ++ shared).mkString(" "), "s0"),
      (2L, shared.mkString(" "), "s0"))
      .toDF("doc_id", "text", "source")
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", "source", 0.55)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs.get((1L, 2L)).contains(0.55), pairs)
  }

  test("PPJoin prefix filter prunes >5x on a Zipfian corpus, result stays exact") {
    // The sf* documents fixture has a 31-token vocab with mean within-block
    // Jaccard above threshold, where NO candidate filter can help (the
    // output itself is quadratic — quantified in BENCH_NOTES). This corpus
    // is the shape real text has: Zipfian token frequencies, hot stopwords
    // in nearly every doc, rare tokens discriminating. Here the filter's
    // claim is measured: candidate volume vs the unfiltered inverted-index
    // join must drop >5x, while the verified result stays EXACTLY the
    // brute-force all-pairs Jaccard set.
    import org.apache.spark.sql.functions.{array_distinct, col, explode}
    val rnd = new scala.util.Random(42)
    val vocabSize = 400
    // Zipf sampling via inverse-CDF over 1/rank weights
    var acc = 0.0
    val cdf = (1 to vocabSize).map { r => acc += 1.0 / r; acc }.toArray
    def zipfToken(): String = {
      val u = rnd.nextDouble() * cdf.last
      val i = cdf.indexWhere(_ >= u)
      s"tok$i"
    }
    val corpus = (1L to 200L).map { id =>
      val toks = scala.collection.mutable.LinkedHashSet[String]()
      while (toks.size < 25) toks += zipfToken()
      (id, toks.mkString(" "), "blk")
    }
    val df = corpus.toDF("doc_id", "text", "source")
    val threshold = 0.7
    // unfiltered inverted-index candidates: every pair sharing ANY token
    val toks = df.select(col("doc_id"),
      explode(array_distinct(graft.operators.TextOps.tokens(col("text")))).as("tok"))
    val unfiltered = toks.select(col("tok"), col("doc_id").as("doc_a"))
      .join(toks.select(col("tok"), col("doc_id").as("doc_b")), "tok")
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct().count()
    val ppjoin = Dedup.ppjoinCandidates(df, "doc_id", "text", "source", threshold).count()
    assert(unfiltered > 5 * ppjoin,
      s"prefix filter pruned only ${unfiltered}/$ppjoin = ${unfiltered.toDouble / ppjoin}x")
    // exactness: verified output == driver-side brute force over all pairs
    val sets = corpus.map { case (id, text, _) => id -> text.split(" ").toSet }.toMap
    val brute = (for {
      a <- corpus.map(_._1); b <- corpus.map(_._1) if a < b
      inter = (sets(a) & sets(b)).size
      j = inter.toDouble / (sets(a).size + sets(b).size - inter)
      if j >= threshold
    } yield (a, b)).toSet
    val got = Dedup.ngramJaccardPairs(df, "doc_id", "text", "source", threshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"ppjoin=${got.size} brute=${brute.size}")
  }

  test("ppjoinCandidateBound: exact on a hand fixture, upper-bounds the real candidate join") {
    // hand fixture at threshold 0.5: each doc has 2 distinct tokens, so
    // the prefix keeps pos <= 2 - ceil(1) + 1 = 2 — BOTH tokens. Buckets:
    // blk x (shared token 'x' df=3 -> C(3,2)=3 pairs) + three singleton
    // tokens -> candidate_pairs = 3, max_prefix_df = 3, 4 prefix tokens.
    val hand = Seq((1L, "x a", "b1"), (2L, "x b", "b1"), (3L, "x c", "b1"))
      .toDF("doc_id", "text", "source")
    val got = Dedup.ppjoinCandidateBound(hand, "doc_id", "text", "source", 0.5)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(("b1", 3L, 3L, 4L)), got.mkString(", "))
    // on the Zipfian corpus the bound dominates the real (positional +
    // size-filtered, deduplicated) candidate count — the property a
    // pipeline relies on when it reads the bound INSTEAD of running the
    // join
    val rnd = new scala.util.Random(7)
    val corpus = (1L to 120L).map { id =>
      val toks = scala.collection.mutable.LinkedHashSet[String]()
      while (toks.size < 15) toks += s"tok${rnd.nextInt(300)}"
      (id, toks.mkString(" "), s"blk${id % 2}")
    }
    val df = corpus.toDF("doc_id", "text", "source")
    val bound = Dedup.ppjoinCandidateBound(df, "doc_id", "text", "source", 0.7)
      .agg(org.apache.spark.sql.functions.sum("candidate_pairs")).head().getLong(0)
    val actual = Dedup.ppjoinCandidates(df, "doc_id", "text", "source", 0.7).count()
    assert(bound >= actual, s"bound $bound < actual candidates $actual")
  }

  test("containmentCandidateBound: asymmetric combinatorics exact, prefix prune visible") {
    // threshold 0.9 on 2-token docs keeps exactly ONE prefix token (the
    // rarest). Fixture A: the shared token 'x' is every doc's COMMONEST,
    // so it never reaches a prefix — dfp>0 buckets are the three
    // singletons, zero candidate pairs (the asymmetric prune at work)
    val a = Seq((1L, "x a", "b1"), (2L, "x b", "b1"), (3L, "x c", "b1"))
      .toDF("doc_id", "text", "source")
    val gotA = Dedup.containmentCandidateBound(a, "doc_id", "text", "source", 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(gotA.toSeq == Seq(("b1", 0L, 1L, 3L)), gotA.mkString(", "))
    // Fixture B: two docs share their RAREST token 'q' (df ties break by
    // token asc) — bucket q has dff=2, dfp=2 → 2*(2-1) = 2 DIRECTIONAL
    // pairs; doc 3's prefix singleton contributes none
    val b = Seq((1L, "q x", "b1"), (2L, "q x", "b1"), (3L, "z w", "b1"))
      .toDF("doc_id", "text", "source")
    val gotB = Dedup.containmentCandidateBound(b, "doc_id", "text", "source", 0.9)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(gotB.toSeq == Seq(("b1", 2L, 2L, 2L)), gotB.mkString(", "))
  }

  test("connectedComponents throws instead of returning split clusters at maxIter") {
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 3)
    }
    assert(e.getMessage.contains("converge"))
  }

  test("connectedComponents converges on a long path within maxIter") {
    // path 0-1-2-…-20: min-label propagation needs several rounds
    val pairs = (0L until 20L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val comp = Dedup.connectedComponents(pairs, "doc_a", "doc_b", maxIter = 30)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(comp.values.toSet == Set(0L), comp.values.toSet)
  }

  // ---- md5-60 oracle family: native expression ≡ column-algebra twin ----

  private lazy val corpusDocs =
    graft.engine.GraftSession.table(spark, TestSpark.sfDir, "documents")

  test("md5MinhashSignature native equals column-algebra twin on real corpus docs") {
    import org.apache.spark.sql.functions._
    val mismatch = corpusDocs.select(
        Dedup.md5MinhashSignature(col("text"), 8).as("a"),
        Dedup.md5MinhashSignatureAlgebra(col("text"), 8).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(mismatch == 0)
  }

  test("md5SimhashSignatures native equals column-algebra twin on real corpus docs") {
    val a = Dedup.md5SimhashSignatures(corpusDocs, "doc_id", "text")
    val b = Dedup.md5SimhashSignaturesAlgebra(corpusDocs, "doc_id", "text")
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("md5 minhash LSH banding equals the all-pairs filter it claims (k=8 bands=4 t=0.7)") {
    import org.apache.spark.sql.functions._
    // the oracle-exactness argument: banded candidates ⊇ every pair with
    // >= 6 of 8 equal minima — check against brute-force on the corpus
    val sigs = corpusDocs.select(col("doc_id"),
      Dedup.md5MinhashSignature(col("text"), 8).as("sig"))
    val a = sigs.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"))
    val b = sigs.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"))
    val brute = a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .filter(Dedup.signatureSimilarity(col("sig_a"), col("sig_b")) >= 0.7)
      .select(col("doc_a"), col("doc_b"))
    val banded = Dedup.minhashNearDuplicates(corpusDocs, "doc_id", "text",
        k = 8, bands = 4, threshold = 0.7,
        signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .select(col("doc_a"), col("doc_b"))
    assert(banded.exceptAll(brute).count() == 0 && brute.exceptAll(banded).count() == 0)
  }

  test("md5-60 family: native equals algebra twin on non-ASCII and edge-whitespace text") {
    import org.apache.spark.sql.functions._
    // byte-scan tokenization + UTF-8 md5 must agree with split(" ")/md5(string)
    // beyond the ASCII corpus: multibyte tokens, tabs inside tokens (NOT
    // separators), leading/trailing/double spaces, short docs
    val edge = Seq(
      (1L, "caf\u00e9 na\u00efve r\u00e9sum\u00e9 \u00fcber tokens everywhere"),
      (2L, "\u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 mixed ascii \u0436\u0438\u0432 text"),
      (3L, "  leading and  double  spaces trailing "),
      (4L, "tab\tinside token"),
      (5L, "short"),
      (6L, ""),
      // supplementary-plane (surrogate-pair) text: windows must advance by
      // CODE POINT — a UTF-16 substring would split pairs and break parity
      (7L, Array.fill(20)("𝄞").mkString + " 😀 mixed emoji 😁😂 tail")
    ).toDF("doc_id", "text")
    val mm = edge.select(
        Dedup.md5MinhashSignature(col("text"), 8).as("a"),
        Dedup.md5MinhashSignatureAlgebra(col("text"), 8).as("b"))
      .filter(not(col("a") === col("b"))).count()
    assert(mm == 0)
    val sa = Dedup.md5SimhashSignatures(edge, "doc_id", "text")
    val sb = Dedup.md5SimhashSignaturesAlgebra(edge, "doc_id", "text")
    assert(sa.exceptAll(sb).count() == 0 && sb.exceptAll(sa).count() == 0)
    val rm = edge.select(
        graft.operators.TextOps.rollingFingerprintMd5(col("text"), 16).as("a"),
        graft.operators.TextOps.rollingFingerprintMd5Algebra(col("text"), 16).as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(rm == 0)
  }

  test("NULL-text docs: never clustered together, never band-collided, survive dedupCorpus") {
    import org.apache.spark.sql.functions._
    val mixed = Seq(
      (1L, "shared duplicate text body", "s0"),
      (2L, "shared duplicate text body", "s0"),
      (3L, null.asInstanceOf[String], "s0"),
      (4L, null.asInstanceOf[String], "s1"),
      (5L, "unique text entirely different", "s0")
    ).toDF("doc_id", "text", "source")
    // absent content is not equal content: no NULL cluster...
    assert(Dedup.exactClusters(mixed, "doc_id", "text").count() == 2)
    assert(Dedup.fingerprintClusters(mixed, "doc_id", "text").count() == 2)
    // ...no NULL-signature band collisions (xxhash64 of a NULL slice is
    // NON-null, so unfiltered they would all pair with each other)...
    val pairs = Dedup.minhashNearDuplicates(mixed, "doc_id", "text", threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)), pairs.toString)
    // ...and dedupCorpus keeps both null-text docs while dropping the dup
    val kept = Dedup.dedupCorpus(mixed, "doc_id", "text")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 3L, 4L, 5L), kept.toString)
  }

  test("incrementalDedup: only content the existing corpus has never seen survives") {
    import org.apache.spark.sql.functions.col
    val existing = Seq((1L, "alpha text"), (2L, "beta text"),
      (3L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val incoming = Seq(
      (10L, "ALPHA   text"),  // normalizes to existing content -> dropped
      (11L, "gamma text"), (12L, "gamma text"), // new, within-batch dup -> one row
      (13L, "delta text"),
      (14L, null.asInstanceOf[String]))         // NULL content never clusters
      .toDF("doc_id", "text")
    val got = Dedup.incrementalDedup(existing, incoming, "doc_id", "text")
      .select(col("keep_id"), col("n_copies"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(got.toSeq == Seq((11L, 2L), (13L, 1L)), got.toSeq)
  }

  test("crossSourceDupMatrix: source-count combinatorics, no pair materialization needed") {
    import org.apache.spark.sql.functions.col
    val docs = Seq(
      // content X: 3 copies in a, 2 in b -> aa C(3,2)=3, ab 3*2=6, bb C(2,2)=1
      (1L, "a", "x"), (2L, "a", "x"), (3L, "a", "X "), // fingerprint-equal
      (4L, "b", "x"), (5L, "b", "x"),
      // content Y: 1 in a, 1 in c -> ac 1
      (6L, "a", "y"), (7L, "c", "y"),
      // unique content and NULLs contribute nothing
      (8L, "a", "solo"), (9L, "b", null.asInstanceOf[String]),
      (10L, "c", null.asInstanceOf[String]))
      .toDF("doc_id", "source", "text")
    val got = Dedup.crossSourceDupMatrix(docs, "source", "text")
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got == Map(("a", "a") -> 3L, ("a", "b") -> 6L, ("b", "b") -> 1L,
      ("a", "c") -> 1L), got)
  }

  test("md5-60 family: NULL text propagates to NULL in native, algebra, and hash forms") {
    import org.apache.spark.sql.functions._
    // concat_ws would silently hash the seed alone on NULL input; the fused
    // exprs are nullIntolerant and DuckDB's `seed || '|' || s` null-
    // propagates — all three forms must agree that NULL in means NULL out
    val withNull = Seq((1L, "some real text here"), (2L, null.asInstanceOf[String]))
      .toDF("doc_id", "text")
    val r = withNull.select(col("doc_id"),
        Dedup.md5Hash60(col("text"), 0).as("h"),
        Dedup.md5MinhashSignature(col("text"), 8).as("mm_native"),
        Dedup.md5MinhashSignatureAlgebra(col("text"), 8).as("mm_algebra"),
        graft.operators.TextOps.rollingFingerprintMd5(col("text"), 16).as("rf_native"),
        graft.operators.TextOps.rollingFingerprintMd5Algebra(col("text"), 16).as("rf_algebra"))
      .collect().map(row => row.getLong(0) -> row).toMap
    (1 to 5).foreach(i => assert(!r(1L).isNullAt(i), s"col $i null on real text"))
    (1 to 5).foreach(i => assert(r(2L).isNullAt(i), s"col $i not null on NULL text"))
  }

  test("dupStats: per-source counts, normalization-aware dedup, NULL text excluded") {
    val docs = Seq(
      ("a", "hello world"),
      ("a", "Hello   WORLD"),   // same fingerprint after normalization
      ("a", "something else"),
      ("b", "unique one"),
      ("b", null.asInstanceOf[String]))
      .toDF("source", "text")
    val got = Dedup.dupStats(docs, "source", "text").collect()
      .map(r => r.getString(0) -> r).toMap
    val a = got("a")
    assert(a.getLong(1) == 3L && a.getLong(2) == 2L && a.getLong(3) == 1L, a.toString)
    assert(a.getDouble(4) == 3.0 / 2, a.toString)
    val b = got("b")
    assert(b.getLong(1) == 1L && b.getLong(3) == 0L && b.getDouble(4) == 1.0,
      "NULL text must not count: " + b)
  }

  test("keepBestSurvivors: cluster keeps max quality (id tiebreak), singleton keeps") {
    val base = "the quick brown fox jumps over the lazy dog again and again today somehow"
    val docs = Seq(
      (1L, base), (2L, base + " longer"), (3L, base + " x"),
      (9L, "entirely different unrelated content with plenty of distinct words here"))
      .toDF("doc_id", "text")
    val got = Dedup.keepBestSurvivors(docs, "doc_id", "text",
        quality = org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")),
        signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(3)))).toMap
    assert(got.size == 4)
    // 1,2,3 cluster on rep 1; the LONGEST (doc 2) survives, not min-id
    assert(got(1L) == ((1L, false)) && got(3L) == ((1L, false)), got.toString)
    assert(got(2L) == ((1L, true)), "quality policy must beat the min-id convention: " + got)
    assert(got(9L) == ((9L, true)), got.toString)
    // equal quality falls back to the id tiebreak
    val tie = Seq((5L, base), (4L, base)).toDF("doc_id", "text")
    val t2 = Dedup.keepBestSurvivors(tie, "doc_id", "text",
        quality = org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")),
        signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .collect().map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(t2 == Map(4L -> true, 5L -> false), t2.toString)
    // megacluster safety is a PLAN property: best-member selection must be
    // an aggregate (map-side partials bound per-task work however large a
    // cluster gets), never a partition-by-rep window (which serializes a
    // megacluster into one task). Pin it so a refactor can't reintroduce
    // the window silently.
    val plan = Dedup.keepBestSurvivors(docs, "doc_id", "text",
        quality = org.apache.spark.sql.functions.length(org.apache.spark.sql.functions.col("text")),
        signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "keepBestSurvivors must not plan a window:\n" + plan)
    // min(struct) plans as Sort/ObjectHash aggregate — either way the
    // partial-aggregate property that bounds per-task work is present
    assert(plan.contains("Aggregate"), plan)
  }

  test("lshBandIndex/probeBandIndex: equals the cross-corpus recompute, survives a parquet round-trip") {
    val base = "the quick brown fox jumps over the lazy dog again and again today somehow"
    val corpus = Seq(
      (1L, base), (2L, base + " extra"),
      (4L, "entirely different unrelated content with plenty of distinct words here"))
      .toDF("doc_id", "text")
    val batch = Seq(
      (10L, base + " x"), // near-dup of 1 and 2
      (11L, "completely novel text nothing shares any shingle with this one at all"))
      .toDF("doc_id", "text")
    val sig = Some(Dedup.md5MinhashSignature(_: org.apache.spark.sql.Column, 8))
    val idx = Dedup.lshBandIndex(corpus, "doc_id", "text", k = 8, bands = 4, signature = sig)
    def pairsOf(index: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      Dedup.probeBandIndex(index, batch, "doc_id", "text",
          k = 8, bands = 4, threshold = 0.7, signature = sig)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val live = pairsOf(idx)
    // the full-recompute twin: crossCorpusContamination over the same split
    val full = Dedup.crossCorpusContamination(corpus, batch, "doc_id", "text",
        k = 8, bands = 4, threshold = 0.7, signature = sig)
      .collect().map(r => (r.getLong(1), r.getLong(0))).toSet
    assert(live == full, s"probe=$live recompute=$full")
    assert(live.map(_._1) == Set(10L), "doc 10 matches, doc 11 is novel: " + live)
    // the index is a PERSISTED artifact: write/read and probe again —
    // identical result with the corpus text nowhere in reach
    val dir = java.nio.file.Files.createTempDirectory("graft-band-index").toString
    idx.write.mode("overwrite").parquet(dir)
    assert(pairsOf(spark.read.parquet(dir)) == live, "parquet round-trip diverged")
    // incremental append: indexing the batch and unioning = the index of
    // the unioned corpus (signatures are per-doc pure functions)
    val appended = idx.unionByName(
      Dedup.lshBandIndex(batch, "doc_id", "text", k = 8, bands = 4, signature = sig))
    val fromUnion = Dedup.lshBandIndex(corpus.unionByName(batch), "doc_id", "text",
      k = 8, bands = 4, signature = sig)
    assert(appended.exceptAll(fromUnion).isEmpty && fromUnion.exceptAll(appended).isEmpty)

    // generation compaction: doc 1 re-ingested with REVISED text as gen 2;
    // compact(gen1 ∪ gen2) must equal the index built directly from the
    // effective corpus (doc 1 revised, others untouched) — and a parquet
    // round-trip of the compacted index probes identically
    import org.apache.spark.sql.functions.{col, lit}
    val revised = Seq((1L, "entirely rewritten words sharing nothing with the original document text"))
      .toDF("doc_id", "text")
    val multiGen = idx.withColumn("gen", lit(1L)).unionByName(
      Dedup.lshBandIndex(revised, "doc_id", "text", k = 8, bands = 4, signature = sig)
        .withColumn("gen", lit(2L)))
    val compacted = Dedup.compactBandIndex(multiGen)
    val effective = Dedup.lshBandIndex(
      revised.unionByName(corpus.filter(col("doc_id") =!= 1L)),
      "doc_id", "text", k = 8, bands = 4, signature = sig)
    val c = compacted.drop("gen")
    assert(c.exceptAll(effective).isEmpty && effective.exceptAll(c).isEmpty,
      "compacted index must equal the effective-corpus index")
    // idempotence
    val twice = Dedup.compactBandIndex(compacted)
    assert(twice.exceptAll(compacted).isEmpty && compacted.exceptAll(twice).isEmpty)
    // the revision removes doc 1 from doc 10's matches (its gen-1 rows are
    // compacted away; doc 2 still matches), round-tripped through parquet
    val cdir = java.nio.file.Files.createTempDirectory("graft-band-compact").toString
    c.write.mode("overwrite").parquet(cdir)
    assert(pairsOf(spark.read.parquet(cdir)) == Set((10L, 2L)),
      "post-compaction probe must see only the surviving near-dup")
  }

  test("clusterSizeProfile: singletons counted, sizes roll up, n_docs = size * clusters") {
    val base = "the quick brown fox jumps over the lazy dog again and again today somehow"
    val docs = Seq(
      (1L, base), (2L, base + " a"), (3L, base + " b"), // one 3-cluster
      (7L, "entirely different unrelated content with plenty of distinct words here"),
      (8L, "another singleton about completely disjoint topics and vocabulary sets"))
      .toDF("doc_id", "text")
    val got = Dedup.clusterSizeProfile(docs, "doc_id", "text", k = 8, bands = 4,
        threshold = 0.7, signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(1L -> ((2L, 2L)), 3L -> ((1L, 3L))), got.toString)
  }

  test("pickBestPerCluster: synthetic megacluster — aggregate path equals windowed twin") {
    import org.apache.spark.sql.functions._
    // one boilerplate megacluster (rep 0, 100k members) plus 500 small
    // clusters of 4 — the shape a boilerplate-heavy crawl collapses into.
    // Quality is a deterministic mix with NULL holes (every 97th row) and
    // deliberate ties (mod 1000 wraps), so the NULLs-last and min-id
    // tiebreak rules are both exercised at megacluster size.
    val assigned = spark.range(102000).select(
      col("id").as("doc_id"),
      when(pmod(col("id"), lit(97)) === 0, lit(null).cast("double"))
        .otherwise(pmod(col("id") * 37, lit(1000)).cast("double")).as("quality"),
      when(col("id") < 100000, lit(0L))
        .otherwise(lit(100000L) + pmod(col("id"), lit(500))).as("rep"))
      .repartition(8)
    val agg = Dedup.pickBestPerCluster(assigned, "doc_id")
    val win = Dedup.pickBestPerClusterWindowed(assigned, "doc_id")
    // identical survivor SETS via both paths (the verdict's done-bar)
    val aKeep = agg.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    val wKeep = win.filter(col("keep")).select("doc_id").collect().map(_.getLong(0)).toSet
    assert(aKeep == wKeep,
      s"aggregate and windowed survivor sets diverge: only-agg=${(aKeep -- wKeep).take(5)}, " +
        s"only-win=${(wKeep -- aKeep).take(5)}")
    // exactly one survivor per cluster, 501 clusters total
    assert(aKeep.size == 501, s"expected 501 survivors, got ${aKeep.size}")
    val perCluster = agg.filter(col("keep")).groupBy("rep").count()
      .filter(col("count") =!= 1).count()
    assert(perCluster == 0L, "some cluster kept != 1 survivor")
    // the megacluster's survivor: max non-null quality (999), min id among
    // ties — independently derivable: ids with id*37 % 1000 == 999 and
    // id % 97 != 0, min of those
    val expectMega = (0L until 100000L)
      .filter(i => i % 97 != 0 && (i * 37) % 1000 == 999).min
    val megaKeep = agg.filter(col("keep") && col("rep") === 0L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(megaKeep == Seq(expectMega), s"megacluster survivor $megaKeep != $expectMega")
    // and the production path plans NO window over the megacluster
    assert(!agg.queryExecution.executedPlan.toString.contains("Window"))
  }

  test("bandSensitivity: bucket-size pair math per config, zero pairs materialized") {
    val base = "the quick brown fox jumps over the lazy dog again and again today"
    // three identical docs share every band of every config; the far doc
    // shares none -> per config b: b multi-buckets of size 3, b*C(3,2) pairs
    val docs = Seq((1L, base), (2L, base), (3L, base),
      (9L, "entirely different unrelated content with many distinct words here"))
      .toDF("doc_id", "text")
    val got = Dedup.bandSensitivity(docs, "doc_id", "text", k = 8,
        signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(2 -> ((2L, 6L)), 4 -> ((4L, 12L)), 8 -> ((8L, 24L))), got.toString)
    // the plan must be aggregate-only: an implementation that materializes
    // candidate pairs would show a join
    val plan = Dedup.bandSensitivity(docs, "doc_id", "text", k = 8,
        signature = Some(Dedup.md5MinhashSignature(_, 8)))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), "bandSensitivity must not join:\n" + plan)
    intercept[IllegalArgumentException](
      Dedup.bandSensitivity(docs, "doc_id", "text", k = 8, configs = Seq(3)))
  }

  test("hammingNearDuplicates: generic signatures, block coverage, exact verify") {
    // base sig + twins at hamming 1, 3, 4 and a far row; bits spread
    // across pigeonhole blocks so agreement happens on a NON-zero block
    val s0 = 0x0123456789ABCDL // 56 bits, fits 4x15-bit blocks
    val sigs = Seq(
      (1L, s0),
      (2L, s0 ^ 1L),                       // hamming 1 (block 0 differs)
      (3L, s0 ^ ((1L << 59) | (1L << 30) | (1L << 15))), // hamming 3, only block 0 agrees
      (4L, s0 ^ ((1L << 59) | (1L << 30) | (1L << 15) | 1L)), // hamming 4 from 1: dropped
      (5L, ~s0 & ((1L << 60) - 1)))        // far away
      .toDF("id", "sig")
    val got = Dedup.hammingNearDuplicates(sigs, "id", "sig", maxHamming = 3, blockBits = 15)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    assert(got.contains((1L, 2L)) && got((1L, 2L)) == 1, got.toString)
    assert(got.contains((1L, 3L)) && got((1L, 3L)) == 3, got.toString)
    assert(!got.contains((1L, 4L)), "hamming 4 must not survive the verify: " + got)
    assert(!got.keys.exists(p => p._1 == 5L || p._2 == 5L), got.toString)
    // pairs whose only agreement is a middle block still meet: 3 vs 4
    // differ in bit 0 only (blocks 1-3 all differ from base equally)
    assert(got.contains((3L, 4L)) && got((3L, 4L)) == 1, got.toString)
    intercept[IllegalArgumentException](
      Dedup.hammingNearDuplicates(sigs, "id", "sig", blockBits = 17))
    // a fractional signature column would TRUNCATE under the long cast —
    // the whole engine family refuses it loudly (round-20 advisor find)
    val frac = Seq((1L, 1.5), (2L, 2.5)).toDF("id", "sig")
    Seq(
      () => Dedup.hammingNearDuplicates(frac, "id", "sig"),
      () => Dedup.hammingCandidateBound(frac, "id", "sig"),
      () => Dedup.hammingNearDuplicatesBudgeted(frac, "id", "sig",
        maxCandidates = 10L)
    ).foreach { f =>
      val e = intercept[IllegalArgumentException](f())
      assert(e.getMessage.contains("integral"), e.getMessage)
    }
  }

  test("cdcChunkShared: insertion shifts no downstream chunks; copies share all, unique shares none") {
    val a = (0 until 40).map(i => s"tok$i").mkString(" ")
    // one token inserted after position 0: with content-defined
    // boundaries, only the chunk CONTAINING the insertion changes (it may
    // split in two if the new token is itself a boundary) — every other
    // chunk's text, and therefore fingerprint, is untouched
    val b = (Seq("tok0", "INSERTED") ++ (1 until 40).map(i => s"tok$i")).mkString(" ")
    val u = (0 until 30).map(i => s"uniq$i").mkString(" ")
    val df = Seq((1L, a), (2L, b), (3L, u), (4L, a), (5L, ""),
      (6L, null.asInstanceOf[String])).toDF("doc_id", "text")
    val got = Dedup.cdcChunkShared(df, "doc_id", "text", divisor = 8)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    // exact copies: every chunk shared
    assert(got(1L)._3 == 1.0 && got(4L)._3 == 1.0, got.toString)
    assert(got(1L)._1 == got(4L)._1, "copies chunk identically")
    // CDC robustness: at most 2 of doc 2's chunks miss doc 1/4
    val (n2, s2, _) = got(2L)
    assert(s2 >= n2 - 2 && n2 > 2, s"insertion must not cascade: n=$n2 shared=$s2")
    // unique text shares nothing
    assert(got(3L) == ((got(3L)._1, 0L, 0.0)) && got(3L)._1 >= 1, got(3L).toString)
    // token-less and NULL docs are absent, not zero-chunk rows
    assert(!got.contains(5L) && !got.contains(6L))
    intercept[IllegalArgumentException](
      Dedup.cdcChunkShared(df, "doc_id", "text", divisor = 1))
  }

  test("containmentPairs: directional quote detection; prefix filter loses nothing vs brute force") {
    val docsC = Seq(
      (1L, "a b c", "s"),           // strictly inside doc 2
      (2L, "a b c d e f", "s"),     // superset: C(2->1) = 3/6, below 0.8
      (3L, "x y z", "s"),           // unrelated
      (4L, "a b x", "s"),           // C(4->2) = 2/3, below 0.8
      (5L, "a b c", "OTHER"))       // doc 1's twin in another block: no pair
      .toDF("doc_id", "text", "src")
    val got = Dedup.containmentPairs(docsC, "doc_id", "text", "src", 0.8)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got == Set((1L, 2L, 1.0)), got.toString)
    // completeness: exact brute force over a generated small-vocab corpus
    // (vocab 8 forces dense overlap — the prefix filter's hardest case)
    val vocab = "a b c d e f g h".split(" ")
    val gen = (0 until 40).map { i =>
      val toks = (0 until 1 + i % 7).map(j => vocab((i * 13 + j * 5) % 8)).distinct
      (i.toLong, toks.mkString(" "), "blk")
    }
    val genDf = gen.toDF("doc_id", "text", "src")
    val brute = (for {
      (ia, ta, _) <- gen; (ib, tb, _) <- gen if ia != ib
      sa = ta.split(" ").toSet; sb = tb.split(" ").toSet
      c = sa.intersect(sb).size.toDouble / sa.size if c >= 0.75
    } yield (ia, ib, c)).toSet
    val fast = Dedup.containmentPairs(genDf, "doc_id", "text", "src", 0.75)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(fast == brute, s"missing=${brute -- fast} extra=${fast -- brute}")
    intercept[IllegalArgumentException](
      Dedup.containmentPairs(docsC, "doc_id", "text", "src", 0.0))
  }

  test("minhashErrorAudit: identical docs land in bucket 0, mass conserved, buckets bounded") {
    val txt = "the quick brown fox jumps over the lazy dog"
    val other = "completely different words entirely unrelated content here now"
    val df = Seq(
      (1L, txt, "s"), (2L, txt, "s"),        // identical: est 1, exact 1 -> bucket 0
      (3L, other, "s"),                      // vs 1/2: est 0 (md5 minima differ), exact 0 -> 0
      (4L, txt, "OTHER"))                    // other block: never paired with 1-3
      .toDF("doc_id", "text", "src")
    val got = Dedup.minhashErrorAudit(df, "doc_id", "text", "src")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.keySet.forall(b => b >= 0 && b <= 9), got.toString)
    // 3 within-block pairs in 's', 0 elsewhere — conservation
    assert(got.values.sum == 3L, got.toString)
    // the identical pair and the two disjoint pairs are all exact -> all
    // mass in bucket 0
    assert(got == Map(0L -> 3L), got.toString)
    intercept[IllegalArgumentException](
      Dedup.minhashErrorAudit(df, "doc_id", "text", "src", k = 0))
  }

  test("minhashErrorAudit pair budget: cap >= block is exact; capped audit carries rate² weights") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val df = (1L to 40L).map(i => (i, base + s" suffix$i word$i", "blk"))
      .toDF("doc_id", "text", "src")
    val exact = Dedup.minhashErrorAudit(df, "doc_id", "text", "src")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact.values.sum == 40L * 39 / 2, exact.toString)
    // cap >= block size: rate = 1, weight 1 — bit-identical to unsampled
    val cap64 = Dedup.minhashErrorAudit(df, "doc_id", "text", "src",
        maxBlockDocs = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cap64 == exact, s"cap64=$cap64 exact=$exact")
    // cap 8 on a 40-doc block: rate = 5; survivors are the docs whose md5
    // order-hash ≡ 0 mod 5, every kept pair weighs rate² = 25, so the
    // weighted total is EXACTLY 25·s(s−1)/2 for s survivors — the
    // inverse-probability estimate of the 780 true pairs
    val s = df.filter(org.apache.spark.sql.functions.pmod(
        graft.operators.SampleOps.md5OrderHash(
          org.apache.spark.sql.functions.col("doc_id")),
        org.apache.spark.sql.functions.lit(5L)) === 0)
      .count()
    assert(s >= 2, s"hash thinning left $s survivors — fixture too small")
    val cap8 = Dedup.minhashErrorAudit(df, "doc_id", "text", "src",
        maxBlockDocs = 8)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(cap8.keySet.forall(b => b >= 0 && b <= 9), cap8.toString)
    assert(cap8.values.forall(_ % 25 == 0), s"weights must be rate²: $cap8")
    assert(cap8.values.sum == 25L * s * (s - 1) / 2,
      s"weighted total ${cap8.values.sum} != 25*${s}*${s - 1}/2")
    intercept[IllegalArgumentException](
      Dedup.minhashErrorAudit(df, "doc_id", "text", "src", maxBlockDocs = 1))
  }

  test("tuneBanding: budget satisfied, minimal signature, sharpest curve on ties, tighter budget costs more") {
    def miss(b: Int, r: Int, j: Double) = math.pow(1.0 - math.pow(j, r), b)
    val (k, b, r, mp, mid) = Dedup.tuneBanding(0.7, 0.05)
    assert(mp <= 0.05 && mp == miss(b, r, 0.7) && k == b * r, s"($k,$b,$r,$mp)")
    // optimality: no config with smaller k (or equal k and larger r) works
    for (r2 <- 1 to 32; b2 <- 1 to 256
         if (b2 * r2 < k || (b2 * r2 == k && r2 > r)) && miss(b2, r2, 0.7) <= 0.05)
      fail(s"tuner missed cheaper/sharper (b=$b2, r=$r2)")
    assert(mid > 0 && mid < 0.7, s"midpoint $mid should sit below the target threshold")
    // d03's fixture config (b=4, r=2) is what the tuner returns for the
    // budget that config actually achieves
    val m43 = miss(4, 2, 0.7)
    val (_, b3, r3, _, _) = Dedup.tuneBanding(0.7, m43 + 1e-12)
    assert(b3 * r3 <= 8, s"fixture config dominated: got ($b3, $r3)")
    // a tighter budget can only grow the signature
    val (k5, _, _, mp5, _) = Dedup.tuneBanding(0.7, 0.005)
    assert(k5 >= k && mp5 <= 0.005)
    intercept[IllegalArgumentException](Dedup.tuneBanding(0.7, 1e-30, rMax = 1, bMax = 1))
  }

  test("rankPropagation: hand-traced star iterations, hub dominates, integer exactness") {
    // star: hub h(=1) — leaves 2,3,4; scale 1000, damping 80 (base 200)
    // iter1: leaves send (1000·80)div(100·1)=800 each -> h = 200+2400 = 2600
    //        h sends (1000·80)div(100·3)=266 -> each leaf = 466
    // iter2: leaves send (466·80)div 100 = 372 -> h = 200+1116 = 1316
    //        h sends (2600·80)div 300 = 693 -> each leaf = 893
    val pairs = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("a", "b")
    val got2 = Dedup.rankPropagation(pairs, "a", "b", iters = 2,
        dampingPct = 80, scale = 1000L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got2 == Map(1L -> 1316L, 2L -> 893L, 3L -> 893L, 4L -> 893L), got2.toString)
    // at the defaults the hub still dominates every leaf
    val got5 = Dedup.rankPropagation(pairs, "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got5(1L) > got5(2L) && got5(2L) == got5(3L) && got5(3L) == got5(4L), got5.toString)
    intercept[IllegalArgumentException](
      Dedup.rankPropagation(pairs, "a", "b", scale = 150L)) // not a multiple of 100
    intercept[IllegalArgumentException](
      Dedup.rankPropagation(pairs, "a", "b", iters = 0))
  }

  test("hammingCandidateBound: exact per-block bucket combinatorics on a hand fixture") {
    // blockBits=15 over 60-bit sigs; craft collisions per block:
    //   sigs 0,1,2 share block 0 value (low 15 bits = 7) -> C(3,2)=3
    //   sigs 0,1 also share blocks 1-3 (identical high bits) -> 1 each
    //   sig 3 collides with nobody anywhere
    val sigs = Seq(
      (0L, (1L << 15) | 7L), (1L, (1L << 15) | 7L), (2L, (2L << 15) | 7L),
      (3L, (3L << 30) | 5L)).toDF("id", "sig")
    val got = Dedup.hammingCandidateBound(sigs, "id", "sig", blockBits = 15)
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // block 0: one bucket of 3 (val 7) + one of 1 (val 5) -> 3 pairs, max 3
    assert(got(0) == ((3L, 3L, 2L)), got.toString)
    // block 1: bucket {0,1} (val 1), {2} (val 2), {3} (val 0) -> 1 pair
    assert(got(1) == ((1L, 2L, 3L)), got.toString)
    // block 2: {0,1,2} share val 0, {3} has val 3 -> 3 pairs
    assert(got(2) == ((3L, 3L, 2L)), got.toString)
    // block 3: all four share val 0 -> C(4,2)=6 pairs, one bucket
    assert(got(3) == ((6L, 4L, 1L)), got.toString)
  }

  test("hammingNearDuplicatesBudgeted: within budget bit-identical, guard row exact, fail loud") {
    // constant signatures — the degenerate band-skew shape the gate
    // exists for: every block one bucket, bound = 4*C(5,2) = 40
    val skewed = (0L until 5L).map(i => (i, 12345L)).toDF("id", "sig")
    val ungated = Dedup.hammingNearDuplicates(skewed, "id", "sig", 3, 15)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val allowed = Dedup.hammingNearDuplicatesBudgeted(skewed, "id", "sig", 3, 15,
        maxCandidates = 100L)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(allowed == ungated && ungated.size == 10)
    val guard = Dedup.hammingNearDuplicatesBudgeted(skewed, "id", "sig", 3, 15,
      maxCandidates = 39L, onExceed = "guard")
    assert(guard.columns.toSeq == Seq("candidate_pairs", "max_bucket_n", "budget"))
    val g = guard.head()
    assert((g.getLong(0), g.getLong(1), g.getLong(2)) == ((40L, 5L, 39L)), g.toString)
    val e = intercept[IllegalStateException](
      Dedup.hammingNearDuplicatesBudgeted(skewed, "id", "sig", 3, 15,
        maxCandidates = 39L))
    assert(e.getMessage.contains("40") && e.getMessage.contains("budget 39"))
    intercept[IllegalArgumentException](
      Dedup.hammingNearDuplicatesBudgeted(skewed, "id", "sig", 3, 15, 39L, "retry"))
  }
}
