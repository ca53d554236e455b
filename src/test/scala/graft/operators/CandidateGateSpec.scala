package graft.operators

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** The shared contract of the five budget-gated pair generators: every
  * branch releases the frames the gate persisted (the throwing one too),
  * and an unbounded budget never submits the bound job. The per-generator
  * result pins live in DedupSpec, SimilaritySpec and MultimodalSpec.
  */
class CandidateGateSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Runs `f` and fails if it left any RDD persisted that was not before. */
  private def releasesAll[T](f: => T): T = {
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    val out = f
    val leaked = persisted -- before
    assert(leaked.isEmpty, s"RDDs left persisted: $leaked")
    out
  }

  private def failsLoudly(f: => DataFrame): String =
    intercept[IllegalStateException](f).getMessage

  /** Call sites of every SQL action `f` runs. An action's start event
    * carries the call site of the thread that ran it (unlike its jobs,
    * which AQE may submit from a pool), and listener delivery is
    * asynchronous but ordered, so seeing a marker action run after `f`
    * means every action of `f` has been seen too.
    */
  private def actionSites(f: => Unit): Seq[String] = {
    val sites = new ConcurrentLinkedQueue[String]()
    val marker = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          if (s.description == "gate-marker") marker.countDown() else sites.add(s.description)
        case _ =>
      }
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      f
      sc.setJobDescription("gate-marker")
      try spark.range(1).collect() finally sc.setJobDescription(null)
      assert(marker.await(60, TimeUnit.SECONDS), "marker action never reached the listener")
    } finally sc.removeSparkListener(listener)
    sites.asScala.toSeq
  }

  private def boundRead(sites: Seq[String]) = sites.exists(_.contains("CandidateGate.scala"))

  // constant signatures: every pigeonhole block one bucket, bound 4*C(5,2) = 40
  private def skewed = (0L until 5L).map(i => (i, 12345L)).toDF("id", "sig")
  private def hamming(budget: Long, onExceed: String = "fail") =
    Dedup.hammingNearDuplicatesBudgeted(skewed, "id", "sig", 3, 15, budget, onExceed)

  // identical docs in one block: PPJoin's worst case, bound 5*C(30,2) = 2175
  private def degen = (1 to 30).map(i => (i.toLong, "a b c d e f g h", "all"))
    .toDF("doc_id", "text", "source")
  private def ppjoin(budget: Long, onExceed: String = "fail") =
    Dedup.ngramJaccardPairsBudgeted(degen, "doc_id", "text", "source", 0.5,
      budget, onExceed)
  private def containment(budget: Long) =
    Dedup.containmentPairs(degen, "doc_id", "text", "source", 0.8, budget)

  // identical vectors, one block of 4 + one of 3: bound C(4,2) + C(3,2) = 9
  private def vecs = (0 until 7).map(i => (i.toLong, Array(1.0f, 0.0f), if (i < 4) "a" else "b"))
    .toDF("vec_id", "embedding", "blk")
  private def cosine(budget: Long, onExceed: String = "fail") =
    Similarity.cosineNearDupPairsBudgeted(vecs, "vec_id", "embedding", "blk", 0.9,
      maxCandidates = budget, onExceed = onExceed)

  // six one-frame videos of the same still: bound 4*C(6,2) = 60
  private def stills = Multimodal.videoFrameSignatures(Multimodal.attachBinary(
    (1L to 6L).map(i => (i, "SAMEFRAME")).toDF("doc_id", "text"), "doc_id", "text"),
    frameBytes = 16, everyN = 1)
  private def video(budget: Long, onExceed: String = "fail") =
    Multimodal.videoNearDupPairsBudgeted(stills, 2, 15, budget, onExceed)

  test("hamming gate: allowed, guard and fail branches release the persisted frames") {
    assert(releasesAll(hamming(40L)).count() == 10L)
    assert(releasesAll(hamming(39L, "guard")).head().getLong(0) == 40L)
    assert(releasesAll(failsLoudly(hamming(39L))).contains("budget 39"))
  }

  test("ppjoin gate: allowed, guard, fail and minhash branches release the persisted frames") {
    assert(releasesAll(ppjoin(2175L)).count() == 435L)
    assert(releasesAll(ppjoin(1000L, "guard")).head().getLong(0) == 2175L)
    assert(releasesAll(failsLoudly(ppjoin(1000L))).contains("'all'"))
    assert(releasesAll(ppjoin(1000L, "minhash")).columns.last == "jaccard")
  }

  test("containment gate: allowed and fail branches release the persisted frames") {
    assert(releasesAll(containment(1000000L)).count() == 870L)
    assert(releasesAll(failsLoudly(containment(100L))).contains("exceeds budget 100"))
  }

  test("cosine gate: allowed, guard and fail branches release the persisted frames") {
    assert(releasesAll(cosine(9L)).count() == 9L)
    assert(releasesAll(cosine(5L, "guard")).head().getLong(0) == 9L)
    assert(releasesAll(failsLoudly(cosine(5L))).contains("exceeds budget 5"))
  }

  test("video gate: allowed, guard and fail branches release the persisted frames") {
    assert(releasesAll(video(60L)).count() == 15L)
    assert(releasesAll(video(59L, "guard")).head().getLong(0) == 60L)
    assert(releasesAll(failsLoudly(video(59L))).contains("band-skewed"))
  }

  test("Long.MaxValue budget submits no bound job on any gated generator") {
    val gens: Seq[(String, Long => DataFrame)] = Seq(
      "hamming" -> (b => hamming(b)), "ppjoin" -> (b => ppjoin(b)),
      "containment" -> (b => containment(b)), "cosine" -> (b => cosine(b)),
      "video" -> (b => video(b)))
    gens.foreach { case (name, gen) =>
      // control: a finite budget does read the bound inside the gate
      assert(boundRead(actionSites(releasesAll(gen(1000000L)))), name)
      val unbounded = actionSites(releasesAll(gen(Long.MaxValue)))
      assert(unbounded.nonEmpty && !boundRead(unbounded), s"$name: $unbounded")
    }
  }

  test("the gate never evaluates the bound at Long.MaxValue, and validates onExceed first") {
    var boundBuilt = false
    def gate(budget: Long, onExceed: String) =
      CandidateGate("probe", budget, onExceed, Nil, "w", _ => "", "")(
        bound = { boundBuilt = true; Seq((1L, 1L)).toDF("candidate_pairs", "w") },
        pairs = Seq(7L).toDF("p"))
    assert(gate(Long.MaxValue, "fail").head().getLong(0) == 7L && !boundBuilt)
    val e = intercept[IllegalArgumentException](gate(0L, "retry"))
    assert(e.getMessage == "requirement failed: onExceed must be fail|guard, got retry"
      && !boundBuilt)
    val g = gate(0L, "guard")
    assert(boundBuilt && g.columns.toSeq == Seq("candidate_pairs", "w", "budget"))
  }
}
