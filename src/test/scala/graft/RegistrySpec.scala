package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry.{Entry, Replay, Static}

/** The entry registry and its oracle function: every entry has exactly one
  * oracle, and [[SparkEntry.oracles]] depends only on its arguments.
  */
class RegistrySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val replays = SparkEntry.entries.collect { case Entry(n, _, Replay(_)) => n }.toSet

  test("entry names are unique, every entry has an oracle, and 13 are replays") {
    val names = SparkEntry.entries.map(_.name)
    assert(names.distinct.size == names.size)
    assert(names.size == 239)
    assert(SparkEntry.entries.forall(_.oracle match {
      case Static(sql) => sql.trim.nonEmpty
      case Replay(_) => true
    }))
    assert(replays.size == 13, replays)
    assert(SparkEntry.oracleSql.keySet == names.toSet -- replays)
  }

  test("oracles(spark, dir) is a function of its arguments: no state leaks between calls") {
    val empty = Files.createTempDirectory("graft-no-tables").toFile
    try {
      val (texts1, errs1) = SparkEntry.oracles(spark, TestSpark.sfDir)
      val (textsEmpty, errsEmpty) = SparkEntry.oracles(spark, empty.getPath)
      val (texts2, errs2) = SparkEntry.oracles(spark, TestSpark.sfDir)
      assert(errs1.isEmpty && errs2.isEmpty, errs1 ++ errs2)
      assert(texts1.keySet == SparkEntry.entries.map(_.name).toSet)
      assert(texts1 == texts2)
      assert(textsEmpty == SparkEntry.oracleSql)
      assert(errsEmpty.keySet == replays, errsEmpty.keySet)
    } finally empty.delete()
  }

  test("running every entry leaves no temp view; an unANALYZEd table plans like a raw read") {
    val cat = spark.sessionState.catalog
    val before = cat.listLocalTempViews("*").map(_.table).toSet
    SparkEntry.entries.foreach { e =>
      e.build(spark, TestSpark.sfDir).write.format("noop").mode("overwrite").save()
    }
    val added = cat.listLocalTempViews("*").map(_.table).toSet -- before
    assert(added.isEmpty, added)
    // a dir no suite ANALYZEs: its catalog table carries no statistics,
    // so it plans with the raw read's size estimate and no row count
    val dir = Files.createTempDirectory("graft-unanalyzed")
    try {
      Files.copy(java.nio.file.Paths.get(TestSpark.sfDir, "customer.parquet"),
        dir.resolve("customer.parquet"))
      val viaCatalog = graft.engine.GraftSession.table(spark, dir.toString, "customer")
        .queryExecution.optimizedPlan.stats
      val raw = spark.read.parquet(dir.resolve("customer.parquet").toString)
        .queryExecution.optimizedPlan.stats
      assert(viaCatalog.sizeInBytes == raw.sizeInBytes, s"$viaCatalog vs $raw")
      assert(viaCatalog.rowCount.isEmpty && raw.rowCount.isEmpty, s"$viaCatalog vs $raw")
    } finally {
      Files.walk(dir).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    }
  }

  test("named finds an entry and fails loudly on an unknown name") {
    assert(SparkEntry.named("q29_flagship").name == "q29_flagship")
    val e = intercept[NoSuchElementException](SparkEntry.named("zz_not_an_entry"))
    assert(e.getMessage.contains("zz_not_an_entry"))
  }

  test("Json.spaced writes the oracle files' layout: one line, a space after each colon") {
    val texts = scala.collection.immutable.VectorMap(
      "a" -> "SELECT 1\n\tFROM t WHERE s = 'x\"y\\z'", "b" -> "\u0001")
    assert(Json.spaced(texts) ==
      "{\"a\": \"SELECT 1\\n\\tFROM t WHERE s = 'x\\\"y\\\\z'\",\"b\": \"\\u0001\"}")
    assert(Json.spaced(Map.empty[String, String]) == "{}")
  }
}
