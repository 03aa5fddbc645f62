package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.pipeline.Pipeline

/** Bench's env → Pipeline.Cfg contract: the default stays reachable
  * under its old spelling, and every retired A/B value fails loudly
  * with its variable named. */
class BenchEnvSpec extends AnyFunSuite {

  test("unset or fused score path gives the default pipeline config") {
    assert(Bench.pipelineCfg(Map.empty) == Pipeline.Cfg())
    assert(Bench.pipelineCfg(Map("SPARK_GRAFT_SCORE_PATH_PIPE" -> "fused")) == Pipeline.Cfg())
    // values that selected the default before keep doing so
    assert(Bench.pipelineCfg(Map(
      "SPARK_GRAFT_FUSED_MINHASH" -> "1", "SPARK_GRAFT_COMPACT_FILES" -> "0")) == Pipeline.Cfg())
  }

  test("each retired value throws naming its variable") {
    val retired = Seq("dict", "direct", "pair").map("SPARK_GRAFT_SCORE_PATH_PIPE" -> _) ++
      Seq("SPARK_GRAFT_FUSED_MINHASH" -> "0", "SPARK_GRAFT_COMPACT_FILES" -> "1")
    retired.foreach { case (k, v) =>
      val e = intercept[IllegalArgumentException](Bench.pipelineCfg(Map(k -> v)))
      assert(e.getMessage.contains(k), e.getMessage)
    }
  }
}
