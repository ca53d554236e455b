package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.Similarity

class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.9f, 0.1f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 0),
    (3L, Array(0.0f, 0.0f, 1.0f), 1),
    (4L, Array(-1.0f, 0.0f, 0.0f), 1)
  ).toDF("vec_id", "embedding", "label")

  test("bruteForceTopK ranks by cosine") {
    val res = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") === 0, k = 3)
      .collect().sortBy(_.getInt(2)).map(r => (r.getLong(1), r.getInt(2)))
    assert(res.toSeq == Seq((1L, 1), (2L, 2), (3L, 3)))
  }

  test("filtered ANN: pre-filtering finds the neighbor post-filtering misses; filters independent; full probe exact") {
    // query 100 points at x; the two CLOSEST vectors (2, 4) fail the
    // filter (even ids allowed = odd labels here: allowed = label 1),
    // the true FILTERED neighbor (1) is farther — the post-filtering
    // pitfall fixture
    val df = Seq(
      (100L, Array(1.0f, 0.0f), 0),   // query, NOT in the filter itself
      (1L, Array(0.70f, 0.71f), 1),   // allowed, cos ~0.70
      (2L, Array(0.99f, 0.14f), 0),   // closest, filtered out
      (4L, Array(0.95f, 0.31f), 0)    // second closest, filtered out
    ).toDF("vec_id", "embedding", "label")
    val q = col("vec_id") === 100L
    val cand = col("label") === 1
    val model = Similarity.ivfAssign(df, "vec_id", "embedding",
      nCentroids = 1, iters = 1)
    // post-filtering: unfiltered top-2 = {2, 4}, then the filter drops
    // BOTH — zero rows, the true filtered neighbor lost
    val post = Similarity.ivfProbe(df, "vec_id", "embedding", model, q,
        k = 2, nProbe = 1)
      .join(df.filter(cand).select(col("vec_id").as("n_id")), Seq("n_id"), "left_semi")
    assert(post.count() == 0L, "post-filtering unexpectedly kept a row")
    // pre-filtering: the probe searches only allowed vectors — finds 1
    val pre = Similarity.ivfProbeFiltered(df, "vec_id", "embedding", model,
        q, cand, k = 2, nProbe = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pre.toSeq == Seq((100L, 1L, 1)), s"pre-filtered result: ${pre.toSeq}")
    // query predicate independent of the candidate filter: the query's
    // own label fails `cand` yet it still searches the filtered corpus
    // (asserted above — query 100 has label 0); the exact filtered
    // baseline agrees
    val exact = Similarity.bruteForceTopKFiltered(df, "vec_id", "embedding",
        q, cand, k = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(exact.toSeq == pre.toSeq)
    // full probe over the shared fixture: filtered IVF == filtered exact
    // for every query (recall 1.0 at nProbe = nCentroids)
    val modelV = Similarity.ivfAssign(vecs, "vec_id", "embedding",
      nCentroids = 2, iters = 2)
    val allQ = col("vec_id") >= 0
    val candV = col("label") === 0
    val ivfAll = Similarity.ivfProbeFiltered(vecs, "vec_id", "embedding",
        modelV, allQ, candV, k = 3, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exactAll = Similarity.bruteForceTopKFiltered(vecs, "vec_id", "embedding",
        allQ, candV, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ivfAll == exactAll, s"ivf=$ivfAll exact=$exactAll")
    // only allowed ids ever appear as neighbors
    assert(ivfAll.forall { case (_, n) => Set(0L, 1L, 2L).contains(n) })
  }

  test("unitNorm leaves zero vectors untouched and normalizes others") {
    val df = Seq((0L, Array(3.0f, 4.0f)), (1L, Array(0.0f, 0.0f))).toDF("id", "v")
    val out = df.select(Similarity.unitNorm(col("v")).as("u")).collect()
      .map(_.getSeq[Double](0))
    assert(math.abs(out(0).map(x => x * x).sum - 1.0) < 1e-12)
    assert(out(1).forall(_ == 0.0))
  }

  test("cosineNearDupPairs respects blocking and threshold") {
    val pairs = Similarity.cosineNearDupPairs(vecs, "vec_id", "embedding", "label", 0.9)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.toSeq == Seq((0L, 1L))) // 0~1 cos≈0.994 same label; 3,4 orthogonal
  }

  test("semanticDedup: transitive chains collapse to one survivor; isolated and NULL vectors handled") {
    // angle chain at threshold 0.9: cos(0,1)≈0.906, cos(1,2)≈0.906 but
    // cos(0,2)≈0.64 — only the TRANSITIVE closure drops vector 2
    def rot(deg: Double) = {
      val r = math.toRadians(deg)
      Array(math.cos(r).toFloat, math.sin(r).toFloat)
    }
    val emb = Seq(
      (0L, rot(0), 0), (1L, rot(25), 0), (2L, rot(50), 0),
      (3L, rot(180), 0),                         // isolated: survives
      (4L, null.asInstanceOf[Array[Float]], 0))  // NULL: excluded
      .toDF("vec_id", "embedding", "label")
    val kept = Similarity.semanticDedup(emb, "vec_id", "embedding", "label", 0.9)
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(0L, 3L), kept)
  }

  test("ivfTopK finds high-overlap neighbors vs brute force on real embeddings") {
    val emb = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 5, k = 5,
      nCentroids = 8, nProbe = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byQ = ivf.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet, s"all queries answered: ${byQ.keySet}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"ranks contiguous for $q")
      // with nProbe=3/8 cells, most approximate neighbors should appear in
      // the exact top-20
      val overlap = rows.map(_._2).count(exact(q).contains)
      assert(overlap >= rows.length / 2, s"query $q overlap $overlap of ${rows.length}")
    }
  }

  test("crossCorpusSemanticContamination: cross-corpus only, matches brute force") {
    val emb = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val train = emb.filter(col("vec_id") % 10 =!= 0)
    val eval = emb.filter(col("vec_id") % 10 === 0)
    val got = Similarity.crossCorpusSemanticContamination(
      train, eval, "vec_id", "embedding", "label", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // never train x train or eval x eval
    assert(got.forall { case (t, e) => t % 10 != 0 && e % 10 == 0 }, "cross-corpus only")
    // brute force within label across the split
    def side(df: org.apache.spark.sql.DataFrame, id: String, v: String) =
      df.filter(col("embedding").isNotNull)
        .select(col("vec_id").as(id), col("label"), Similarity.unitNorm(col("embedding")).as(v))
    val brute = side(train, "t_id", "u_t").join(side(eval, "e_id", "u_e"), "label")
      .filter(Similarity.dot(col("u_t"), col("u_e")) >= 0.4)
      .select("t_id", "e_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute, s"got ${got.size} vs brute ${brute.size}")
    assert(got.nonEmpty, "fixture must produce at least one contaminated pair")
  }

  test("ivfTopK rejects fixture-sized configs pointed at the wrong scale") {
    val emb = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    // probe count cannot exceed the cell count
    intercept[IllegalArgumentException](Similarity.ivfTopK(
      emb, "vec_id", "embedding", col("vec_id") < 5, k = 5, nCentroids = 4, nProbe = 5))
  }

  test("lshBucket fails loudly on dimension mismatch (silent bucket-0 collapse is O(n^2))") {
    val e = intercept[Throwable] {
      Similarity.lshTopK(vecs, "vec_id", "embedding", col("vec_id") === 0, k = 2,
        nPlanes = 4, dim = 8).collect()
    }
    def messages(t: Throwable): String =
      if (t == null) "" else Option(t.getMessage).getOrElse("") + messages(t.getCause)
    assert(messages(e).contains("lshBucket"), messages(e))
  }

  test("lshBucket: NULL vectors are skipped (null bucket), not a job-aborting error") {
    val withNull = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f), 0),
      (1L, Array(0.9f, 0.1f, 0.0f), 0),
      (2L, null.asInstanceOf[Array[Float]], 0)
    ).toDF("vec_id", "embedding", "label")
    val res = Similarity.lshTopK(withNull, "vec_id", "embedding", col("vec_id") === 0, k = 2,
      nPlanes = 4, dim = 3).collect().map(_.getLong(1))
    assert(res.contains(1L) && !res.contains(2L), res.toSeq)
  }

  test("cosineNearDupPairs: oversized blocks are subdivided, capped result stays sound") {
    // one dominant block: 40 vectors in label 0; even/odd index = two
    // distinct sign patterns, near-identical within each pattern
    val big = (0 until 40).map(i =>
      (i.toLong, Array(1.0f + i * 0.01f, if (i % 2 == 0) 1.0f else -1.0f, 0.5f), 0))
      .toDF("vec_id", "embedding", "label")
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairSet(Similarity.cosineNearDupPairs(big, "vec_id", "embedding", "label", 0.95))
    val capped = pairSet(Similarity.cosineNearDupPairs(big, "vec_id", "embedding", "label", 0.95,
      maxBlockSize = 10))
    // same-sign near-dups land in the same sub-bucket: nothing is lost here,
    // and nothing unsound is ever added
    assert(exact.size == 2 * 20 * 19 / 2, s"even-even + odd-odd pairs, got ${exact.size}")
    assert(capped == exact, s"missing: ${exact -- capped}; extra: ${capped -- exact}")
  }

  test("withRecallAtK: per-query recall floor on real embeddings (d08/d09 driver shape)") {
    val emb = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5)
    def recalls(approx: org.apache.spark.sql.DataFrame): Map[Long, Double] =
      Similarity.withRecallAtK(approx, exact, k = 5)
        .select(col("q_id"), col("recall")).distinct()
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ivf = recalls(Similarity.ivfTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5))
    val lsh = recalls(Similarity.lshTopK(emb, "vec_id", "embedding", col("vec_id") < 10, k = 5))
    // each query carries exactly one recall value in [0,1]; the suite floor
    // is the driver-visible accuracy claim for the approximate paths
    (ivf.values ++ lsh.values).foreach(r => assert(r >= 0.0 && r <= 1.0))
    assert(ivf.values.sum / ivf.size >= 0.6, s"ivf mean recall ${ivf.values.sum / ivf.size}")
    assert(lsh.values.sum / lsh.size >= 0.6, s"lsh mean recall ${lsh.values.sum / lsh.size}")
  }

  test("withRecallAtK: recall 1.0 when approx equals exact, 0.0 on disjoint") {
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") === 0, k = 3)
    val self = Similarity.withRecallAtK(exact, exact, k = 3)
      .select(col("recall")).distinct().collect().map(_.getDouble(0))
    assert(self.toSeq == Seq(1.0))
    val disjoint = exact.withColumn("n_id", col("n_id") + 100L)
    val zero = Similarity.withRecallAtK(disjoint, exact, k = 3)
      .select(col("recall")).distinct().collect().map(_.getDouble(0))
    assert(zero.toSeq == Seq(0.0))
  }

  test("lshTopK returns correctly-ranked subset of brute-force results") {
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", col("vec_id") === 0, k = 4)
      .collect().map(r => r.getLong(1) -> r.getInt(2)).toMap
    val approx = Similarity.lshTopK(vecs, "vec_id", "embedding", col("vec_id") === 0, k = 4,
      nPlanes = 4, dim = 3).collect().map(r => (r.getLong(1), r.getInt(2)))
    // every returned neighbor must exist in the exact result with rank order preserved
    assert(approx.sortBy(_._2).map(_._1).forall(exact.contains))
  }

  test("d08 oracle margin: no sign(dot) can flip between engine roundings at sf0.01") {
    // The d08 DuckDB oracle replays bucketing on sign(dot(raw, plane));
    // Spark buckets on sign(dot(unit, plane)). The two engines' double
    // roundings differ by ~1e-13 relative — a bucket divergence needs a
    // row×plane dot within that of zero. Assert the live data/hyperplane
    // margin (all rows × 8 tables × 4 planes, the exact constants d08
    // embeds) sits orders of magnitude above it.
    assume(TestSpark.hasOracleSf, s"oracle-scale dataset ${TestSpark.oracleSfDir} not present")
    val emb = graft.engine.GraftSession.table(spark, TestSpark.oracleSfDir, "embeddings")
    val unit = Similarity.normalized(emb, "vec_id", "embedding")
    val dots = for {
      t <- 0 until 8
      p <- Similarity.hyperplanes(nPlanes = 4, dim = 64, seed = 7L + t * 1009L)
    } yield abs(Similarity.dot(col("unit"), typedlit(p)))
    val minMargin = unit.select(least(dots: _*).as("m"))
      .agg(min(col("m"))).head.getDouble(0)
    assert(minMargin > 1e-6, s"min |dot(unit, plane)| = $minMargin — too close to a sign flip")
  }

  test("diversitySample: every sign cell capped at perBucket, sparse cells kept whole") {
    val emb = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val kept = Similarity.diversitySample(emb, "vec_id", "embedding", bits = 4, perBucket = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    // direct-definition twin: sign pattern of the 4 leading components
    val full = emb.filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding")).collect()
      .map { r =>
        val v = r.getSeq[Float](1)
        val bucket = (0 until 4).map(j =>
          if (j < v.length && v(j) >= 0f) 1 << j else 0).sum
        (r.getLong(0), bucket)
      }
    val cellSizes = full.groupBy(_._2).view.mapValues(_.size).toMap
    val keptSizes = kept.groupBy(_._2).view.mapValues(_.size).toMap
    assert(cellSizes.size > 1, "fixture must populate more than one cell")
    cellSizes.foreach { case (b, n) =>
      assert(keptSizes.getOrElse(b, 0) == math.min(n, 10), s"cell $b: $n rows")
    }
    val byId = full.toMap
    kept.foreach { case (id, b) => assert(byId(id) == b, s"bucket of $id") }
    // deterministic: a second run picks the identical sample
    val again = Similarity.diversitySample(emb, "vec_id", "embedding", bits = 4, perBucket = 10)
      .collect().map(r => (r.getLong(0), r.getInt(1)))
    assert(again.toSet == kept.toSet)
  }

  test("IVF nProbe curve: recall is monotone in the probe budget, exact at full probe") {
    val emb = TestSpark.spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      org.apache.spark.sql.functions.col("vec_id") < 5, k = 3)
    def meanRecall(np: Int): Double = {
      val rows = Similarity.withRecallAtK(
          Similarity.ivfTopK(emb, "vec_id", "embedding",
            org.apache.spark.sql.functions.col("vec_id") < 5, k = 3,
            nCentroids = 8, nProbe = np, iters = 3),
          exact, k = 3)
        .select("q_id", "recall").distinct().collect().map(_.getDouble(1))
      rows.sum / rows.length
    }
    val curve = Seq(1, 2, 8).map(meanRecall)
    assert(curve(0) <= curve(1) + 1e-12 && curve(1) <= curve(2) + 1e-12, curve)
    // probing EVERY cell is brute force: recall must be exactly 1
    assert(curve(2) == 1.0, curve)
  }

  test("pqTopK: lossless codebook degenerates to exact ranking; config guards") {
    // 8 well-separated 4-dim vectors, m=2 subspaces, ksub=8 >= distinct
    // sub-vectors: k-means init = the sub-vectors themselves, every
    // assignment has distance 0, so the codebook is LOSSLESS and ADC
    // ranking must equal brute-force cosine ranking exactly
    val emb = Seq(
      (0L, Array(5.0f, 1.0f, 0.0f, 2.0f)),
      (1L, Array(4.0f, 2.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 7.0f, 3.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f, 6.0f, 2.0f)),
      (4L, Array(2.0f, 3.0f, 0.0f, 5.0f)),
      (5L, Array(0.0f, 1.0f, 2.0f, 7.0f)),
      (6L, Array(3.0f, 0.0f, 4.0f, 1.0f)),
      (7L, Array(1.0f, 5.0f, 1.0f, 3.0f))).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") < 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val pq = Similarity.pqTopK(emb, "vec_id", "embedding", col("vec_id") < 2,
        k = 3, m = 2, ksub = 8, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(pq == exact, s"lossless PQ must match exact: pq=$pq exact=$exact")
    // real embeddings: a lossy codebook still recovers most of the exact set
    val real = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val ex20 = Similarity.bruteForceTopK(real, "vec_id", "embedding",
        col("vec_id") < 5, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val approx = Similarity.pqTopK(real, "vec_id", "embedding", col("vec_id") < 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byQ = approx.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet, s"all queries answered: ${byQ.keySet}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"ranks contiguous for $q")
      val overlap = rows.map(_._2).count(ex20(q).contains)
      assert(overlap >= rows.length / 2, s"query $q overlap $overlap of ${rows.length}")
    }
    // fixture-sized configs can't silently ship to the wrong scale
    intercept[IllegalArgumentException](Similarity.pqTopK(
      emb, "vec_id", "embedding", col("vec_id") < 2, k = 3, m = 3)) // 4 % 3 != 0
    intercept[IllegalArgumentException](Similarity.pqTopK(
      emb, "vec_id", "embedding", col("vec_id") < 2, k = 3, ksub = 512))
  }

  test("pqTopKReranked: full-corpus shortlist recovers exact ranking under a LOSSY codebook; recall never drops") {
    val emb = Seq(
      (0L, Array(5.0f, 1.0f, 0.0f, 2.0f)),
      (1L, Array(4.0f, 2.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 7.0f, 3.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f, 6.0f, 2.0f)),
      (4L, Array(2.0f, 3.0f, 0.0f, 5.0f)),
      (5L, Array(0.0f, 1.0f, 2.0f, 7.0f)),
      (6L, Array(3.0f, 0.0f, 4.0f, 1.0f)),
      (7L, Array(1.0f, 5.0f, 1.0f, 3.0f))).toDF("vec_id", "embedding")
    // ksub=2 is aggressively lossy (8 sub-vectors -> 2 centroids), but a
    // shortlist of 3·3 >= the 7 possible neighbors means the re-rank sees
    // EVERY candidate — the result must equal brute-force cosine exactly,
    // independent of how bad the ADC order was
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") < 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val rr = Similarity.pqTopKReranked(emb, "vec_id", "embedding",
        col("vec_id") < 2, k = 3, shortlist = 3, m = 2, ksub = 2, iters = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(rr == exact, s"full-shortlist re-rank must equal exact: rr=$rr exact=$exact")
    // real embeddings, production-shaped config: the re-rank can only
    // help — per-query hit count vs the exact top-k never decreases
    val real = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val ex = Similarity.bruteForceTopK(real, "vec_id", "embedding",
        col("vec_id") < 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    def hitCounts(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.collect().map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .map { case (q, rs) =>
          q -> rs.map(_._2).count(ex.getOrElse(q, Set.empty[Long]).contains)
        }
    val adcHits = hitCounts(
      Similarity.pqTopK(real, "vec_id", "embedding", col("vec_id") < 5, k = 5))
    val rrHits = hitCounts(Similarity.pqTopKReranked(real, "vec_id", "embedding",
      col("vec_id") < 5, k = 5, shortlist = 4))
    (0L until 5L).foreach { q =>
      assert(rrHits.getOrElse(q, 0) >= adcHits.getOrElse(q, 0),
        s"query $q: re-rank hits ${rrHits.get(q)} < adc hits ${adcHits.get(q)}")
    }
    intercept[IllegalArgumentException](Similarity.pqTopKReranked(
      emb, "vec_id", "embedding", col("vec_id") < 2, k = 3, shortlist = 0))
  }

  test("ivfPqTopK: full-probe + full-shortlist degenerates to exact; defaults sane on real embeddings") {
    val emb = Seq(
      (0L, Array(5.0f, 1.0f, 0.0f, 2.0f)),
      (1L, Array(4.0f, 2.0f, 1.0f, 0.0f)),
      (2L, Array(0.0f, 7.0f, 3.0f, 1.0f)),
      (3L, Array(1.0f, 0.0f, 6.0f, 2.0f)),
      (4L, Array(2.0f, 3.0f, 0.0f, 5.0f)),
      (5L, Array(0.0f, 1.0f, 2.0f, 7.0f)),
      (6L, Array(3.0f, 0.0f, 4.0f, 1.0f)),
      (7L, Array(1.0f, 5.0f, 1.0f, 3.0f))).toDF("vec_id", "embedding")
    // probing EVERY cell + a shortlist covering every candidate must give
    // the exact brute-force ranking, however lossy the ksub=2 codes are —
    // the composition can only lose recall through the two prunes it owns
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
        col("vec_id") < 2, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = Similarity.ivfPqTopK(emb, "vec_id", "embedding", col("vec_id") < 2,
        k = 3, nCentroids = 2, nProbe = 2, m = 2, ksub = 2, iters = 3, shortlist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == exact, s"full-probe/full-shortlist must equal exact: got=$full exact=$exact")
    // production-shaped defaults on the real embeddings: every query
    // answered with contiguous ranks, result ids within the corpus
    val real = graft.engine.GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val got = Similarity.ivfPqTopK(real, "vec_id", "embedding", col("vec_id") < 5, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val byQ = got.groupBy(_._1)
    assert(byQ.keySet == (0L until 5L).toSet, s"all queries answered: ${byQ.keySet}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_._3).sorted.toSeq == (1 to rows.length), s"ranks contiguous for $q")
      assert(rows.forall(r => r._2 != q), s"query $q returned itself")
    }
    intercept[IllegalArgumentException](Similarity.ivfPqTopK(
      emb, "vec_id", "embedding", col("vec_id") < 2, k = 3, nProbe = 99))
  }

  test("two-stage models: probes against one shared encode equal the one-shot API per config") {
    val real = TestSpark.spark.read
      .parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    // one ivfPqEncode serves every (nProbe, shortlist) config — exactly
    // d35's discipline — and each probe must equal the train-inside
    // one-shot call, because centroids/codebooks are deterministic
    // functions of the data and the probe stages share their algebra
    val model = Similarity.ivfPqEncode(real, "vec_id", "embedding")
    Seq((1, 4), (2, 2), (4, 4)).foreach { case (np, sl) =>
      val viaModel = Similarity.ivfPqProbe(real, "vec_id", "embedding", model,
          col("vec_id") < 5, k = 5, nProbe = np, shortlist = sl)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val oneShot = Similarity.ivfPqTopK(real, "vec_id", "embedding",
          col("vec_id") < 5, k = 5, nProbe = np, shortlist = sl)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaModel == oneShot, s"config ($np, $sl) diverged")
    }
    // same contract for plain IVF (d25's discipline)
    val ivf = Similarity.ivfAssign(real, "vec_id", "embedding")
    Seq(1, 2, 4).foreach { np =>
      val viaModel = Similarity.ivfProbe(real, "vec_id", "embedding", ivf,
          col("vec_id") < 5, k = 5, nProbe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val oneShot = Similarity.ivfTopK(real, "vec_id", "embedding",
          col("vec_id") < 5, k = 5, nProbe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaModel == oneShot, s"nProbe $np diverged")
    }
    intercept[IllegalArgumentException](Similarity.ivfPqProbe(
      real, "vec_id", "embedding", model, col("vec_id") < 2, k = 3, nProbe = 99))
  }

  test("ivfAssign distributedTrainer: model carries the full-corpus centroids; full probe stays exact") {
    import graft.engine.GraftSession
    val real = GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val model = Similarity.ivfAssign(real, "vec_id", "embedding",
      nCentroids = 4, iters = 3)
    val direct = Similarity.kmeansDistributed(real, "vec_id", "embedding", 4, 3)
    assert(model.centroids.map(_.toSeq).toSeq == direct.map(_.toSeq).toSeq,
      "ivfAssign must delegate training verbatim to kmeansDistributed")
    // the probe stage is trainer-agnostic: probing EVERY cell of ANY
    // correct assignment recovers the exact brute-force ranking
    val q = col("vec_id") < 3
    val full = Similarity.ivfProbe(real, "vec_id", "embedding", model, q,
        k = 4, nProbe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val exact = Similarity.bruteForceTopK(real, "vec_id", "embedding", q, k = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(full == exact)
  }

  test("kmeansDistributed: separates planted clusters, deterministic across partitionings, empty cell keeps its centroid") {
    // three tight clusters around orthogonal axes — any correct k-means
    // with k=3 lands one centroid per axis whatever the iteration count
    val pts = (0 until 30).map { i =>
      val axis = i % 3
      val eps = 0.01f * (i / 3)
      val base = Array(0.0f, 0.0f, 0.0f); base(axis) = 1.0f
      base((axis + 1) % 3) = eps
      (i.toLong, base)
    }
    val df1 = pts.toDF("vec_id", "embedding").repartition(1)
    val df7 = pts.toDF("vec_id", "embedding").repartition(7)
    val c1 = Similarity.kmeansDistributed(df1, "vec_id", "embedding", 3, 4)
    val c7 = Similarity.kmeansDistributed(df7, "vec_id", "embedding", 3, 4)
    // partitioning-independence is the POINT of the integer re-estimation
    // sums: bit-identical centroids whatever the partial-sum order
    assert(c1.map(_.toSeq).toSeq == c7.map(_.toSeq).toSeq)
    val assign = Similarity.kmeansAssign(df1, "vec_id", "embedding", c1)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    (0 until 3).foreach { axis =>
      val members = (0 until 30).filter(_ % 3 == axis).map(_.toLong)
      assert(members.map(assign).toSet.size == 1,
        s"axis-$axis cluster split: ${members.map(assign)}")
    }
    assert(assign.values.toSet.size == 3, s"clusters collapsed: $assign")
    // k=4 over 3 real clusters: some cell ends empty mid-iteration and
    // must KEEP its previous centroid (not NaN out)
    val c4 = Similarity.kmeansDistributed(df1, "vec_id", "embedding", 4, 4)
    assert(c4.length == 4 && c4.forall(_.forall(x => !x.isNaN)))
    // fewer non-null vectors than centroids fails loudly
    intercept[IllegalArgumentException](
      Similarity.kmeansDistributed(pts.take(2).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 3, 2))
  }

  test("kmeansAssignJoin: bit-identical to the plan-literal form") {
    import graft.engine.GraftSession
    val real = GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val cents = Similarity.kmeansDistributed(real, "vec_id", "embedding", 4, 3)
    val viaLit = Similarity.kmeansAssign(real, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val viaJoin = Similarity.kmeansAssignJoin(real, "vec_id", "embedding", cents)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // same dot fold over the same doubles, same struct tie order — the
    // broadcast-table shape must not move a single vector
    assert(viaLit == viaJoin)
  }

  test("pqCodebooksDistributed: partitioning-independent, empty code keeps its centroid, loud on bad dims") {
    // 3 tight clusters in dim 8 (divisible by m=2) — the d42 fixture
    // idiom adapted to subspace training
    val pts = (0 until 30).map { i =>
      val axis = i % 3
      val v = Array.fill(8)(0.0f); v(axis) = 1.0f; v(axis + 4) = 0.01f * (i / 3)
      (i.toLong, v)
    }
    val df1 = pts.toDF("vec_id", "embedding").repartition(1)
    val df7 = pts.toDF("vec_id", "embedding").repartition(7)
    def flat(b: Array[Array[Array[Double]]]) = b.map(_.map(_.toSeq).toSeq).toSeq
    val b1 = Similarity.pqCodebooksDistributed(df1, "vec_id", "embedding", 2, 4, 3)
    val b7 = Similarity.pqCodebooksDistributed(df7, "vec_id", "embedding", 2, 4, 3)
    // the POINT of the exact-integer re-estimation: bit-identical books
    // whatever the partial-sum order
    assert(flat(b1) == flat(b7))
    assert(b1.length == 2 && b1.forall(_.length == 4) &&
      b1.forall(_.forall(_.length == 4)))
    // ksub=8 over ~3 natural groups: some code goes empty mid-iteration
    // and must keep its previous centroid, never NaN
    val b8 = Similarity.pqCodebooksDistributed(df1, "vec_id", "embedding", 2, 8, 3)
    assert(b8.forall(_.forall(_.forall(x => !x.isNaN))))
    // dim=8 not divisible by m=3 fails loudly
    intercept[IllegalArgumentException](
      Similarity.pqCodebooksDistributed(df1, "vec_id", "embedding", 3, 4, 2))
    // fewer vectors than ksub fails loudly
    intercept[IllegalArgumentException](
      Similarity.pqCodebooksDistributed(pts.take(3).toDF("vec_id", "embedding"),
        "vec_id", "embedding", 2, 4, 2))
  }

  test("pqCodebooksDistributed trains past the literal ceiling, equal to driver-local") {
    // ksub x dim = 256 x 4096 = 1,048,576 > 10^6: each Spark iteration
    // scores the codebooks in the table shape, and the result must equal
    // the driver-local Lloyd's bit for bit
    // eight distinct directions, so most codes go empty and keep their init
    val big = (0 until 256).map(i =>
        (i.toLong, Array.tabulate(4096)(d => (((i % 8) * 13 + d) % 17 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    val viaSpark = Similarity.pqCodebooksDistributed(big, "vec_id", "embedding",
      m = 8, ksub = 256, iters = 1)
    val viaDriver = Similarity.pqCodebooksDistributedAs(big, "vec_id", "embedding",
      m = 8, ksub = 256, iters = 1, Some(Similarity.Lloyds.Driver))
    assert(bits(viaSpark) == bits(viaDriver))
  }

  test("ivfAssignJoin + ivfProbeJoin: bit-identical to the literal IVF stack") {
    import graft.engine.GraftSession
    val real = GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    val litModel = Similarity.ivfAssign(real, "vec_id", "embedding",
      nCentroids = 4, iters = 3)
    val joinModel = Similarity.ivfAssignJoin(real, "vec_id", "embedding",
      litModel.centroids)
    // assignment equality: same cells for every vector
    val litCells = litModel.assigned.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val joinCells = joinModel.assigned.select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(litCells == joinCells)
    // probe equality per nProbe, including full probe (= exact)
    Seq(1, 2, 4).foreach { np =>
      val viaLit = Similarity.ivfProbe(real, "vec_id", "embedding", litModel,
          col("vec_id") < 5, k = 5, nProbe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val viaJoin = Similarity.ivfProbeJoin(real, "vec_id", "embedding", joinModel,
          col("vec_id") < 5, k = 5, nProbe = np)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaLit == viaJoin, s"nProbe $np diverged")
    }
  }

  test("ivfPqEncodeJoin + ivfPqProbeJoin: bit-identical to the literal IVF-PQ stack (d45's contract)") {
    import graft.engine.GraftSession
    val real = GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    // d43's exact config: distributed trainers, then both encode shapes
    // over the SAME constants
    val cents = Similarity.kmeansDistributed(real, "vec_id", "embedding", 8, 3)
    val books = Similarity.pqCodebooksDistributed(real, "vec_id", "embedding",
      m = 4, ksub = 8, iters = 3)
    val litModel = Similarity.encodeCorpus(real, "vec_id", "embedding", cents, books)
    val joinModel = Similarity.ivfPqEncodeJoin(real, "vec_id", "embedding", cents, books)
    def frame(m: Similarity.IvfPqModel) = m.encoded
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq)).toSet
    // encode equality: same cell AND same m sub-codes for every vector
    assert(frame(litModel) == frame(joinModel))
    // probe equality across configs, sharing one encode each
    Seq((1, 4), (2, 2), (2, 4), (8, 4)).foreach { case (np, sl) =>
      val viaLit = Similarity.ivfPqProbe(real, "vec_id", "embedding", litModel,
          col("vec_id") < 5, k = 5, nProbe = np, shortlist = sl)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      val viaJoin = Similarity.ivfPqProbeJoin(real, "vec_id", "embedding", joinModel,
          col("vec_id") < 5, k = 5, nProbe = np, shortlist = sl)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
      assert(viaLit == viaJoin, s"config ($np, $sl) diverged")
    }
    // and the join stack is self-consistent with the one-shot distributed
    // entry path (d43 == d45 at the result level)
    val d43 = Similarity.ivfPqProbe(real, "vec_id", "embedding",
        Similarity.ivfPqEncode(real, "vec_id", "embedding",
          nCentroids = 8, m = 4, ksub = 8, iters = 3),
        col("vec_id") < 10, k = 5, nProbe = 2, shortlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val d45 = Similarity.ivfPqProbeJoin(real, "vec_id", "embedding", joinModel,
        col("vec_id") < 10, k = 5, nProbe = 2, shortlist = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    assert(d43 == d45)
  }

  test("cosineNearDupPairsBudgeted: allowed branch bit-identical, bound exact, fail loud, guard as data") {
    import graft.engine.GraftSession
    val real = GraftSession.table(spark, TestSpark.sfDir, "embeddings")
    // allowed: the real corpus blocked by label clears a generous budget
    // and the gated result must equal the ungated operator exactly
    val ungated = Similarity.cosineNearDupPairs(real, "vec_id", "embedding",
        "label", 0.4)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val gated = Similarity.cosineNearDupPairsBudgeted(real, "vec_id", "embedding",
        "label", 0.4, maxCandidates = 100000000L)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated == ungated)
    // bound exactness on a hand-built frame: one block of 4 + one of 3
    // (under maxBlockSize, sub = 0) -> C(4,2) + C(3,2) = 9
    val fx = (0 until 7).map(i =>
      (i.toLong, Array(1.0f, 0.0f), if (i < 4) "a" else "b"))
      .toDF("vec_id", "embedding", "blk")
    val b = Similarity.cosineCandidateBound(fx, "vec_id", "embedding", "blk").head()
    assert(b.getLong(0) == 9L && b.getLong(1) == 4L && b.getLong(2) == 2L, s"bound row: $b")
    // identical vectors share every sign bit: one oversized block cannot
    // be subdivided, the bound sees the all-pairs cliff, fail is loud
    val e = intercept[IllegalStateException](
      Similarity.cosineNearDupPairsBudgeted(fx, "vec_id", "embedding", "blk",
        0.9, maxCandidates = 5L))
    assert(e.getMessage.contains("exceeds budget 5"))
    // guard: the decision as data, schema distinct from the pairs schema
    val g = Similarity.cosineNearDupPairsBudgeted(fx, "vec_id", "embedding", "blk",
      0.9, maxCandidates = 5L, onExceed = "guard")
    assert(g.columns.toSeq == Seq("candidate_pairs", "max_bucket_n", "budget"))
    val gr = g.head()
    assert(gr.getLong(0) == 9L && gr.getLong(1) == 4L && gr.getLong(2) == 5L)
  }

  // The k·dim size rule: every ANN stage inlines its model as plan
  // literals up to 10^6 doubles and switches to the broadcast-table shape
  // past it. The fixtures put 16 planted cells in ~62.5k dims, so the
  // ceiling falls between dim 62500 (exactly 10^6) and 62504 (m = 4 still
  // divides it).

  /** Row `id` points along axis `axis` with a small id-dependent tilt off
    * every axis, so each argmin wins by a wide margin. */
  private def planted(dim: Int, rows: Seq[(Long, Int)]) = rows.map { case (id, axis) =>
    val v = new Array[Float](dim)
    v(axis) = 1.0f
    v(16 + (id % 7).toInt) = 0.05f * (1 + id % 3)
    (id, v)
  }.toDF("vec_id", "embedding")

  private def plantedIds(n: Int): Seq[(Long, Int)] = (0L until n.toLong).map(id => (id, (id % 16).toInt))

  private def axes(dim: Int): Array[Array[Double]] =
    Array.tabulate(16)(a => Array.tabulate(dim)(d => if (d == a) 1.0 else 0.0))

  private def dotSeq(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0
    var i = 0
    while (i < a.length) { s += a(i) * b(i); i += 1 }
    s
  }

  /** Indices of `scores` in ascending order, ties to the lower index. */
  private def ascending(scores: Seq[Double]): Seq[Int] =
    scores.indices.sortWith((a, b) => scores(a) < scores(b) || (scores(a) == scores(b) && a < b))

  private def nearest(u: Array[Double], cents: Array[Array[Double]]): Int =
    ascending(cents.toSeq.map(c => -dotSeq(u, c))).head

  private def pqCodesRef(u: Array[Double], books: Array[Array[Array[Double]]]): Seq[Int] = {
    val subDim = books(0)(0).length
    books.indices.map { j =>
      val sub = u.slice(j * subDim, (j + 1) * subDim)
      ascending(books(j).toSeq.map(c => c.map(x => x * x).sum - 2.0 * dotSeq(sub, c))).head
    }
  }

  private def units(df: org.apache.spark.sql.DataFrame): Seq[(Long, Array[Double])] =
    Similarity.normalized(df, "vec_id", "embedding").collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray))

  private def bag[A](xs: Seq[A]): Map[A, Int] = xs.groupBy(identity).map { case (x, v) => x -> v.size }

  /** Top k by (score desc, id asc) of `scored` (id, score), ranked from 1. */
  private def topK(q: Long, scored: Seq[(Long, Double)], k: Int): Seq[(Long, Long, Int)] =
    scored.sortWith((a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1))
      .take(k).zipWithIndex.map { case ((n, _), r) => (q, n, r + 1) }

  /** Exact top-k among the corpus rows (id, unit, cell) in each query's
    * `nProbe` nearest cells. */
  private def probeRef(corpus: Seq[(Long, Array[Double], Int)], queries: Seq[(Long, Array[Double])],
      cents: Array[Array[Double]], nProbe: Int, k: Int): Set[(Long, Long, Int)] =
    queries.flatMap { case (q, qu) =>
      val probed = ascending(cents.toSeq.map(c => -dotSeq(qu, c))).take(nProbe).toSet
      topK(q, corpus.collect { case (n, u, c) if probed(c) && n != q => (n, dotSeq(qu, u)) }, k)
    }.toSet

  private object Plans extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Broadcast nested-loop joins in `df`'s executed plan — each is a cross
    * join against a broadcast model table. Run `df` first. */
  private def bnljs(df: org.apache.spark.sql.DataFrame): Int =
    Plans.collect(df.queryExecution.executedPlan) {
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec => j
    }.size

  private def triples(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Int)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet

  test("past the k*dim ceiling kmeansAssign and ivfAssign run the table shape, keep duplicate-id rows, match the argmin reference") {
    val dim = 62504
    // ids 0 and 1 appear twice, pointing at different cells: the table
    // shape must keep them as separate rows, as the literal shape does
    val df = planted(dim, plantedIds(24) ++ Seq((0L, 5), (1L, 6)))
    val rows = units(df)
    val cents = axes(dim)
    val assign = Similarity.kmeansAssign(df, "vec_id", "embedding", cents)
    val got = assign.collect().toSeq.map(r => (r.getLong(0), r.getInt(1)))
    assert(bnljs(assign) == 1, "kmeansAssign did not switch to the table shape")
    assert(bag(got) == bag(rows.map { case (id, u) => (id, nearest(u, cents)) }))
    assert(got.count(_._1 == 0L) == 2 && got.contains((0L, 5)))

    val model = Similarity.ivfAssign(df, "vec_id", "embedding",
      nCentroids = 16, iters = 1)
    val assigned = model.assigned.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    assert(bnljs(model.assigned) == 1, "ivfAssign did not switch to the table shape")
    assert(bag(assigned.map(_._1)) == bag(rows.map(_._1)))
    assigned.foreach { case (id, u, c) => assert(c == nearest(u, model.centroids), s"row $id") }
  }

  test("past the k*dim ceiling ivfProbe and ivfProbeFiltered run the table shape and match the probe reference") {
    val dim = 62504
    val df = planted(dim, plantedIds(24))
    val model = Similarity.ivfAssign(df, "vec_id", "embedding",
      nCentroids = 16, iters = 1)
    val corpus = model.assigned.collect().toSeq
      .map(r => (r.getLong(0), r.getSeq[Double](1).toArray, r.getInt(2)))
    val queries = units(df).filter(_._1 < 4)
    val probe = Similarity.ivfProbe(df, "vec_id", "embedding", model,
      col("vec_id") < 4, k = 3, nProbe = 2)
    val got = triples(probe)
    // the assignment's cross join and the probe list's
    assert(bnljs(probe) == 2, "ivfProbe did not switch to the table shape")
    assert(got == probeRef(corpus, queries, model.centroids, nProbe = 2, k = 3))
    assert(got.nonEmpty)
    val filtered = Similarity.ivfProbeFiltered(df, "vec_id", "embedding", model,
      col("vec_id") < 4, col("vec_id") % 2 === 1, k = 3, nProbe = 2)
    assert(triples(filtered) ==
      probeRef(corpus.filter(_._1 % 2 == 1), queries, model.centroids, nProbe = 2, k = 3))
  }

  test("past the k*dim ceiling the IVF-PQ encode and probe run the table shape and match the reference") {
    val dim = 62504
    // centroids and codebooks both hold 16 x 62504 doubles
    val dups = planted(dim, plantedIds(24) ++ Seq((0L, 5), (1L, 6)))
    val model = Similarity.ivfPqEncode(dups, "vec_id", "embedding",
      nCentroids = 16, m = 4, ksub = 16, iters = 1)
    val encoded = model.encoded.collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Int](2).toSeq))
    assert(bnljs(model.encoded) == 1, "the encode did not switch to the table shape")
    assert(bag(encoded) == bag(units(dups).map { case (id, u) =>
      (id, nearest(u, model.centroids), pqCodesRef(u, model.books)) }))

    // the probe's exact re-rank reads vectors by id, so probe a corpus
    // with unique ids; a shortlist past the corpus size makes the result
    // the exact top-k of the probed cells
    val df = planted(dim, plantedIds(24))
    val pq = Similarity.ivfPqEncode(df, "vec_id", "embedding",
      nCentroids = 16, m = 4, ksub = 16, iters = 1)
    val byId = units(df).toMap
    val corpus = pq.encoded.collect().toSeq.map(r => (r.getLong(0), byId(r.getLong(0)), r.getInt(1)))
    val probe = Similarity.ivfPqProbe(df, "vec_id", "embedding", pq,
      col("vec_id") < 4, k = 3, nProbe = 2, shortlist = 30)
    val got = triples(probe)
    // the encode's cross join, the probe list's and the LUTs'
    assert(bnljs(probe) == 3, "ivfPqProbe did not switch to the table shape")
    assert(got == probeRef(corpus, units(df).filter(_._1 < 4), pq.centroids, nProbe = 2, k = 3))
    assert(got.nonEmpty)
  }

  test("pqTopK past the ksub*dim ceiling runs the table shape and matches the ADC reference") {
    val dim = 62504
    val df = planted(dim, plantedIds(24))
    val pq = Similarity.pqTopK(df, "vec_id", "embedding", col("vec_id") < 4, k = 3,
      m = 4, ksub = 16, iters = 1)
    val got = triples(pq)
    // the encode's and the LUTs' cross joins, plus the ADC scan's own
    assert(bnljs(pq) == 3, "pqTopK did not switch to the table shape")
    val books = Similarity.pqCodebooksDistributed(df, "vec_id", "embedding", 4, 16, 1)
    val subDim = books(0)(0).length
    val rows = units(df)
    val codes = rows.map { case (id, u) => (id, pqCodesRef(u, books)) }
    val ref = rows.filter(_._1 < 4).flatMap { case (q, qu) =>
      val luts = books.indices.map(j =>
        books(j).map(c => dotSeq(qu.slice(j * subDim, (j + 1) * subDim), c)))
      topK(q, codes.collect { case (n, cs) if n != q =>
        (n, cs.indices.map(j => luts(j)(cs(j))).reduce(_ + _)) }, 3)
    }.toSet
    assert(got == ref)
  }

  test("at exactly k*dim = 10^6 every ANN stage keeps the literal shape (no BroadcastNestedLoopJoin)") {
    val dim = 62500
    val df = planted(dim, plantedIds(24))
    val q = col("vec_id") < 4
    val ivf = Similarity.ivfAssign(df, "vec_id", "embedding",
      nCentroids = 16, iters = 1)
    val pq = Similarity.ivfPqEncode(df, "vec_id", "embedding",
      nCentroids = 16, m = 4, ksub = 16, iters = 1)
    Seq(
      "kmeansAssign" -> Similarity.kmeansAssign(df, "vec_id", "embedding", axes(dim)),
      "ivfAssign" -> ivf.assigned,
      "ivfProbe" -> Similarity.ivfProbe(df, "vec_id", "embedding", ivf, q, k = 3),
      "encodeCorpus" -> pq.encoded,
      "ivfPqProbe" -> Similarity.ivfPqProbe(df, "vec_id", "embedding", pq, q, k = 3)
    ).foreach { case (stage, out) =>
      assert(out.collect().nonEmpty, stage)
      assert(bnljs(out) == 0, s"$stage left the literal shape at the ceiling")
    }
  }

  // The trainers' size rule and their three shapes. Every shape runs the
  // same Lloyd's, so the centroids and codebooks must agree in their raw
  // double bits, not just approximately.

  private def bits(c: Array[Array[Double]]): Seq[Seq[Long]] =
    c.map(_.map(java.lang.Double.doubleToRawLongBits).toSeq).toSeq

  private def bits(b: Array[Array[Array[Double]]]): Seq[Seq[Seq[Long]]] = b.map(bits).toSeq

  /** Three planted clusters in dim 8 whose two lowest ids are the same
    * vector. Init takes both, so in the first iteration cell 1 (k = 4) and
    * code 1 of each subspace (m = 2, ksub = 4) lose every tie to 0 and
    * stay empty. */
  private def plantedTwins = (Seq((0L, 0), (1L, 0)) ++ (2L until 30L).map(i => (i, (i % 3).toInt))).map {
    case (id, axis) =>
      val v = Array.fill(8)(0.0f)
      v(axis) = 1.0f
      v(axis + 4) = if (id < 2) 0.0f else 0.01f * (id / 3)
      (id, v)
  }.toDF("vec_id", "embedding")

  test("trainer shapes: driver-local, Spark literal and Spark table are bit-identical") {
    import Similarity.Lloyds._
    val sf0001 = TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet")
    val shapes = Seq(Driver, Spark, SparkTable)
    Seq(("sf0.001", sf0001, 4, 4, 8), ("planted", plantedTwins, 4, 2, 4)).foreach {
      case (name, df, k, m, ksub) =>
        val cents = shapes.map(sh =>
          bits(Similarity.kmeansDistributedAs(df, "vec_id", "embedding", k, 3, Some(sh))))
        assert(cents.distinct.size == 1, s"$name: k-means shapes diverged")
        assert(cents.head == bits(Similarity.kmeansDistributed(df, "vec_id", "embedding", k, 3)))
        val books = shapes.map(sh =>
          bits(Similarity.pqCodebooksDistributedAs(df, "vec_id", "embedding", m, ksub, 3, Some(sh))))
        assert(books.distinct.size == 1, s"$name: PQ shapes diverged")
        assert(books.head ==
          bits(Similarity.pqCodebooksDistributed(df, "vec_id", "embedding", m, ksub, 3)))
    }
  }

  test("size rule: n*dim = 10^6 trains on the driver, one row more in Spark") {
    def frame(n: Int) = (0 until n).map(i =>
        (i.toLong, Array.tabulate(1000)(d => ((i * 7 + d) % 11 + 1).toFloat)))
      .toDF("vec_id", "embedding")
    def head(df: org.apache.spark.sql.DataFrame) = Similarity.trainingHead(
      Similarity.normalized(df, "vec_id", "embedding").filter(col("unit").isNotNull), 4)
    val at = head(frame(1000))
    assert(at.whole && at.units.length == 1000)
    val past = frame(1001)
    val over = head(past)
    assert(!over.whole && over.units.length == 1001)
    assert(bits(Similarity.kmeansDistributed(past, "vec_id", "embedding", 4, 2)) ==
      bits(Similarity.kmeansDistributedAs(past, "vec_id", "embedding", 4, 2,
        Some(Similarity.Lloyds.Driver))))
  }

  test("Lloyd's step: the scored cell/codes column is computed below the Generate") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan}
    // a scan, not a local frame the optimizer would fold away
    val all = Similarity.normalized(
      TestSpark.spark.read.parquet(s"${TestSpark.sfDir}/embeddings.parquet"), "vec_id", "embedding")
    val cents = Array.tabulate(4)(a => Array.tabulate(64)(d => if (d == a) 1.0 else 0.0))
    val books = Array.tabulate(2)(_ => cents.map(_.take(32)))
    def definers(p: LogicalPlan, name: String): Seq[LogicalPlan] = p.collect {
      case n if n.expressions.exists(_.exists {
        case a: Alias => a.name == name
        case _ => false
      }) => n
    }
    Seq(true, false).foreach { literal =>
      Seq("cell" -> Similarity.kmeansStep(all, cents, literal),
          "codes" -> Similarity.pqStep(all, books, literal)).foreach { case (name, step) =>
        val plan = step.queryExecution.optimizedPlan
        val gens = plan.collect { case g: Generate => g }
        assert(gens.size == 1, plan)
        // every node computing the column sits under the Generate: once per
        // vector, never once per exploded component
        val below = definers(gens.head.child, name)
        assert(below.nonEmpty && below.size == definers(plan, name).size,
          s"$name (literal=$literal) is computed above the Generate:\n$plan")
      }
    }
  }
}
