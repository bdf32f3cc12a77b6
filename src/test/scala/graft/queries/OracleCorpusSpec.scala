package graft.queries

import graft.SparkEntry
import org.scalatest.funsuite.AnyFunSuite

/** Static checks over the oracle corpus: the DuckDB strings themselves,
  * no engine run. */
class OracleCorpusSpec extends AnyFunSuite {

  private val staging = VerifyInputs.stagingOracles
  private val queryOracles = SparkEntry.oracleSql -- staging.keySet

  test("every staged input an oracle reads has a staging oracle, and every staged input is read") {
    val read = raw"${Gps.VerifyOutToken}/([^/']+)/".r
    val reads = queryOracles.values.flatMap(read.findAllMatchIn(_).map(_.group(1))).toSet
    assert(reads.nonEmpty)
    assert(reads -- staging.keySet == Set.empty, "read but not staged")
    assert(staging.keySet -- reads == Set.empty, "staged but never read")
  }

  test("queries whose outputs are equal by law carry equal oracle text") {
    def oracle(prefix: String): String = {
      val hits = queryOracles.filter(_._1.startsWith(prefix))
      assert(hits.size == 1, s"$prefix matches ${hits.keys}")
      hits.head._2
    }
    Seq("q46_" -> "q191_", "q32_" -> "q82_", "q96_" -> "q269_",
      "q149_" -> "q184_", "q50_" -> "q58_").foreach { case (a, b) =>
      assert(oracle(a) == oracle(b), s"$a vs $b")
    }
  }
}
