package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.Row
import graft.schema.{Doc, Fixture, Span}
import graft.blocking.Blocking
import graft.scoring.Scoring

/** The fused stage-S path (one kernel call per pair over dictionary
  * ids) must be VALUE-IDENTICAL to the inline exploded path it falls
  * back to on every column — scores feed the F1 gate and the
  * byte-stable resume invariant, so "close" is not enough. Exercised on
  * the t1 fixture (realistic phrase repetition) plus hand-built edge
  * docs: empty texts arrays, empty-string spans, media-only docs,
  * exact-duplicate spans, non-ASCII fallback texts. */
class ScoringDedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark

  private def key(r: Row): (String, String) = (r.getAs[String]("doc_a"), r.getAs[String]("doc_b"))

  private def assertIdentical(cand: org.apache.spark.sql.DataFrame, docs: org.apache.spark.sql.DataFrame): Unit = {
    val txt = Scoring.textRep(docs).localCheckpoint(true)
    val med = Scoring.mediaRep(docs).localCheckpoint(true)
    val dict = Scoring.textDictDense(txt).localCheckpoint(true)
    val ids = Scoring.textIdsRep(txt, dict)
    val a = Scoring.scoreWithRepsDirect(cand, txt, med).collect().map(r => key(r) -> r).toMap
    val bc = Scoring.broadcastDict(dict)
    val d = Scoring.scoreWithRepsFused(cand, ids, med, Scoring.Weights(), bc)
      .collect().map(r => key(r) -> r).toMap
    assert(a.keySet == d.keySet,
      s"pair sets differ: only-direct=${(a.keySet -- d.keySet).take(5)} only-fused=${(d.keySet -- a.keySet).take(5)}")
    a.foreach { case (k, ra) =>
      val rd = d(k)
      assert(ra == rd, s"pair $k differs:\n direct=$ra\n fused =$rd")
    }
  }

  test("fused path equals direct path exactly on the t1 fixture") {
    val docs = Fixture.docs(spark, Fixture.scales("t1")).toDF()
    val cand = Blocking.candidates(docs, Blocking.Cfg()).localCheckpoint(true)
    assert(cand.count() > 1000, "fixture should produce a meaningful candidate set")
    assertIdentical(cand, docs)
  }

  test("fused path equals direct path on edge-case docs") {
    import spark.implicits._
    def text(t: String, off: Int) = Span("text", t, null, off)
    def media(m: String, off: Int) = Span("media", null, m, off)
    val docs = Seq(
      Doc("e01", Seq(text("shared phrase alpha beta", 0), text("", 1))),     // empty-string span
      Doc("e02", Seq(text("shared phrase alpha beta", 0), text("", 1))),     // exact dup incl. empty
      Doc("e03", Seq(media("asset_only", 0))),                               // no text spans at all
      Doc("e04", Seq(media("asset_only", 0))),
      Doc("e05", Seq(text("shared phrase alpha betu", 0))),                  // 1-edit neighbor
      Doc("e06", Seq(text("päivää öljyä überhaupt çok", 0))),                // non-ASCII kernel fallback
      Doc("e07", Seq(text("päivää öljyä überhaupt çök", 0))),
      Doc("e08", Seq.empty[Span])                                            // empty spans array
    ).toDF()
    val ids = docs.select("doc_id").as[String].collect().sorted
    val cand = ids.combinations(2).map { case Array(a, b) => (a, b) }.toSeq.toDF("doc_a", "doc_b")
    assertIdentical(cand, docs)
  }
}
