package graft

import org.scalatest.funsuite.AnyFunSuite

/** The two registry maps stay aligned: every oracle names a query, and
  * the only queries without a DuckDB oracle are the declared rows-only
  * image/binary paths (their golden ScalaTest suites are their gate). */
class RegistrySpec extends AnyFunSuite {
  test("every oracle names a query; only the rows-only set lacks one") {
    val queries = SparkEntry.queries.keySet
    val oracles = SparkEntry.oracleSql.keySet
    assert((oracles -- queries).isEmpty,
      s"oracles without a query: ${(oracles -- queries).toSeq.sorted}")
    assert(queries -- oracles == Set("k1_image_pipeline",
      "m2_multimodal_features", "m6_image_phash", "m7_image_patches"))
  }
}
