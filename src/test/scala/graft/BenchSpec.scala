package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's upload section must release what it started however its poll
  * loop ends: the streaming query stops and the temp warehouse goes. */
class BenchSpec extends AnyFunSuite {
  import TestSpark.spark

  test("upload section stops its stream and deletes its warehouse when the poll throws") {
    val active = spark.streams.active.map(_.id).toSet
    var warehouse: Option[java.nio.file.Path] = None
    val seconds = Bench.uploadToSearchable(spark) { wh =>
      warehouse = Some(java.nio.file.Paths.get(wh))
      throw new IllegalStateException("poll failed")
    }
    assert(seconds == -1.0, "a throwing poll is a failure, never a time")
    assert(warehouse.nonEmpty, "the poll never ran")
    val leaked = spark.streams.active.filterNot(q => active.contains(q.id))
    assert(leaked.isEmpty, leaked.mkString(", "))
    assert(!java.nio.file.Files.exists(warehouse.get.getParent),
      s"${warehouse.get.getParent} left behind")
  }
}
