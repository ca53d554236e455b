package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.engine.{GraftSession, Telemetry}
import graft.operators.Dedup

/** Growth-curve harness for the PPJoin/containment scale claims
  * (round 18): measures d05's symmetric Jaccard join (unblocked) and
  * d28's containment join (16-way blocked, the production shape) on the
  * deterministic Heaps-law Zipf corpus ([[ScaleData.ensureZipfCorpus]])
  * at each requested size, printing one line per (size, op) with the
  * pre-join candidate bound, the result count and the join's
  * [[graft.engine.Measure]] — the data behind BENCH_NOTES'
  * vocabulary-growth table.
  *
  * Usage: runMain graft.tools.ZipfGrowth [nDocs,nDocs,...]
  * (default 5000,50000). Corpora land under benchdata/zipf<n>.
  */
object ZipfGrowth {

  /** A join over a Zipf corpus: d05's Jaccard join at 0.8, or d28's
    * containment join at 0.9, over the corpus as generated or split 16
    * ways by doc_id.
    */
  final case class ZipfJoin(name: String, containment: Boolean, blocked16: Boolean) {
    private def input(docs: DataFrame): DataFrame = if (!blocked16) docs
      else docs.withColumn("source", concat(lit("blk"), pmod(col("doc_id"), lit(16L)).cast("string")))

    /** The pre-join candidate-pair bound a budget gate refuses on. */
    def bound(docs: DataFrame): Long =
      (if (containment) Dedup.containmentCandidateBound(input(docs), "doc_id", "text", "source", 0.9)
       else Dedup.ppjoinCandidateBound(input(docs), "doc_id", "text", "source", 0.8))
        .agg(sum(col("candidate_pairs"))).head().getLong(0)

    def pairs(docs: DataFrame): DataFrame =
      if (containment) Dedup.containmentPairs(input(docs), "doc_id", "text", "source", 0.9)
      else Dedup.ngramJaccardPairs(input(docs), "doc_id", "text", "source", 0.8)
  }

  /** Reads and logs every join's candidate bound before any join starts,
    * so a join that does not finish leaves its bound on record; then runs
    * each join through `run`, which times it under [[Telemetry.measure]].
    * `run` gets the join's builder: the operators pin frames while the
    * DataFrame is built, and that work belongs in the timed body.
    */
  def boundThenJoin[T](docs: DataFrame, joins: Seq[ZipfJoin])
      (run: (ZipfJoin, () => DataFrame) => T): Seq[(ZipfJoin, Long, T)] = {
    val bounds = joins.map { j =>
      val b = j.bound(docs)
      System.err.println(s"[zipf] ${j.name} candidate_bound=$b")
      b
    }
    joins.zip(bounds).map { case (j, b) => (j, b, run(j, () => j.pairs(docs))) }
  }

  def main(args: Array[String]): Unit = {
    val sizes = args.headOption.getOrElse("5000,50000")
      .split(',').map(_.trim.toLong).toSeq
    val cpus = GraftSession.envCpus(32)
    val spark = GraftSession.build(cpus, "graft-zipf-growth")
    val joins = Seq(ZipfJoin("d05_jaccard", containment = false, blocked16 = false),
      ZipfJoin("d28_contain_blk16", containment = true, blocked16 = true))
    sizes.foreach { n =>
      val dir = new java.io.File(s"benchdata/zipf$n").getAbsolutePath
      ScaleData.ensureZipfCorpus(spark, dir, n, partitions = cpus * 4)
      boundThenJoin(spark.read.parquet(s"$dir/documents.parquet"), joins) { (j, pairs) =>
        var rows = 0L
        val m = Telemetry.measure(spark, j.name) { rows = pairs().count() }
        (rows, m)
      }.foreach { case (j, bound, (rows, m)) =>
        println(s"ZIPF n=$n op=${j.name} bound=$bound pairs=$rows ${Trace.fields(m)}")
      }
    }
    spark.stop()
  }
}
