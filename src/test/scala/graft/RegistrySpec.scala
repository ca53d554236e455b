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
}
