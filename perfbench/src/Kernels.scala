package perfbench

import org.apache.spark.sql.{DataFrame, GraftShim}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import graft.blocking.Blocking
import graft.cluster.UnionFindAccess
import graft.functions.{FusedSpanScore, JW, MinHashBands}
import graft.pipeline.Pipeline
import graft.text.TextOps.normText

/** Single-thread timings of the four hot kernels through their public
  * entry points, on inputs sampled from the workload's own checkpoints.
  * Each result is (ns per unit, units per pass). */
object Kernels {
  /** Sample size cap per kernel; keeps every timing well under a second. */
  val SampleRows = 4000

  /** Median ns per unit over several passes, after two warm-up passes. */
  private def time(units: Long)(pass: => Unit): Double = {
    pass; pass
    val per = (0 until 7).map { _ =>
      val t0 = System.nanoTime(); pass; (System.nanoTime() - t0).toDouble / units
    }
    Stats.median(per)
  }

  def minhash(docs: DataFrame, cfg: Blocking.Cfg): (Double, Long) = {
    val texts = docs.select(normText(array_join(
      transform(filter(col("spans"), s => s.getField("kind") === lit("text")), s => s.getField("text")), " ")))
      .limit(SampleRows).collect().map(r => InternalRow(UTF8String.fromString(r.getString(0))))
    val proj = UnsafeProjection.create(Seq(GraftShim.expression(MinHashBands.bandKeys(
      GraftShim.column(BoundReference(0, StringType, nullable = true)),
      cfg.shingleN, cfg.minhashK, cfg.bands, cfg.seed))))
    (time(texts.length)(texts.foreach(proj(_))), texts.length.toLong)
  }

  /** Fused per-pair text score over the dictionary ids of sampled
    * candidate pairs, with the composed run's broadcast dictionary. */
  def fusedSpan(pairs: DataFrame, txtIds: DataFrame, cfg: Pipeline.Cfg,
      bc: org.apache.spark.broadcast.Broadcast[graft.functions.PackedDict]): (Double, Long) = {
    val rows = pairs.select("doc_a", "doc_b").limit(SampleRows)
      .join(txtIds.select(col("doc_id").as("doc_a"), col("tids").as("ta")), "doc_a")
      .join(txtIds.select(col("doc_id").as("doc_b"), col("tids").as("tb")), "doc_b")
      .select("ta", "tb").collect()
      .map(r => InternalRow(ArrayData.toArrayData(r.getSeq[Int](0).toArray),
        ArrayData.toArrayData(r.getSeq[Int](1).toArray)))
    val arr = ArrayType(IntegerType, containsNull = true)
    val proj = UnsafeProjection.create(Seq(GraftShim.expression(FusedSpanScore.score(
      GraftShim.column(BoundReference(0, arr, nullable = true)),
      GraftShim.column(BoundReference(1, arr, nullable = true)),
      0.75, cfg.weights.jwStrong, cfg.weights.levStrong, bc))))
    (time(rows.length)(rows.foreach(proj(_))), rows.length.toLong)
  }

  /** Jaro-Winkler over every span-text pair of sampled candidate pairs
    * (the comparisons stage S makes), at the fused path's cutoff. */
  def jw(pairs: DataFrame, textRep: DataFrame): (Double, Long) = {
    val rows = pairs.select("doc_a", "doc_b").limit(SampleRows / 4)
      .join(textRep.select(col("doc_id").as("doc_a"), col("texts").as("ta")), "doc_a")
      .join(textRep.select(col("doc_id").as("doc_b"), col("texts").as("tb")), "doc_b")
      .select("ta", "tb").collect()
    val calls = rows.flatMap { r =>
      val a = r.getSeq[String](0).map(UTF8String.fromString)
      val b = r.getSeq[String](1).map(UTF8String.fromString)
      for (x <- a; y <- b) yield (x, y)
    }
    var sink = 0.0
    val ns = time(calls.length)(calls.foreach { case (x, y) => sink += JW.jwGE(x, y, 0.75) })
    require(!sink.isNaN)
    (ns, calls.length.toLong)
  }

  /** Union-find over the composed run's match edges (internal long ids). */
  def unionFind(scored: DataFrame): (Double, Long) = {
    val e = scored.where(col("is_match")).select("doc_a", "doc_b").collect()
    val src = e.map(_.getLong(0))
    val dst = e.map(_.getLong(1))
    (time(math.max(1, src.length))(UnionFindAccess.minLabelsLong(src, dst)), src.length.toLong)
  }
}
