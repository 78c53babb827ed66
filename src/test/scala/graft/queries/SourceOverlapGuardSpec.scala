package graft.queries

import graft.TestSpark
import org.scalatest.funsuite.AnyFunSuite

/** Pins q165's source-cardinality guard: the query collects the distinct
  * `source` names to the driver and expands them into a C(k,2) pair
  * matrix, so a corpus with more than 4,096 distinct sources must fail
  * with a clear error instead of exhausting driver memory.
  */
class SourceOverlapGuardSpec extends AnyFunSuite {
  import TestSpark.spark

  test("q165 rejects a corpus with more than 4,096 distinct sources") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q165-guard").toString
    (0 until 4097).map(i => (s"doc-$i", s"src-$i", "one two three four five six seven eight"))
      .toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val err = intercept[IllegalArgumentException] {
      Catalog.queries("q165_source_overlap")(spark, dir).collect()
    }
    assert(err.getMessage.contains("q165_source_overlap"), err.getMessage)
    assert(err.getMessage.contains("4096"), err.getMessage)
  }
}
