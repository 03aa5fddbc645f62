package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.cluster.{Attach, ConnectedComponents}
import graft.lineage.Lineage
import graft.pipeline.Pipeline
import graft.scoring.Scoring

/** The batch resolver rebuilt from each layer's public functions, in the
  * order and with the settings `Pipeline.run` uses for a fresh run dir
  * (hash ids, fused scoring, no delta persistence), with one span around
  * each layer call. Stage outputs are checkpointed to parquet as the
  * pipeline does, so the composed `clusters` table can be compared with
  * the pipeline's. Lineage/metrics rows, which the pipeline writes on a
  * background pool, are written here in one serial span at the end. */
object Compose {

  /** What the per-layer ratios need from the composed run. */
  final class Out {
    var docs = 0L
    var candidates = 0L
    var droppedPairsEst = 0.0
    var scored = 0L
    var matched = 0L
    var dictBytes = 0L
    var ccIterations = 0
    var singlesBefore = 0L
    var singlesAfter = 0L
    var chunkExchanges = 0
    val rows = mutable.Map.empty[String, Long]
    var bc: org.apache.spark.broadcast.Broadcast[graft.functions.PackedDict] = _
  }

  def run(spark: SparkSession, docs0: DataFrame, runDir: String, cfg: Pipeline.Cfg, tr: Tracer): Out = {
    val out = new Out
    val docs = docs0.withColumn("doc_id", xxhash64(col("doc_id")))
    lazy val idMap = docs0.select(col("doc_id").as("orig_id"), xxhash64(col("doc_id")).as("nid"))
      .distinct().localCheckpoint(true)
    def mapBack(df: DataFrame, idCols: Seq[String]): DataFrame =
      idCols.foldLeft(df) { (d, c) =>
        d.join(idMap.select(col("nid").as(c), col("orig_id").as(s"${c}__s")), c)
          .drop(c).withColumnRenamed(s"${c}__s", c)
      }
    def ck(name: String, partitionCols: String*)(df: DataFrame): DataFrame = {
      df.write.mode("overwrite").partitionBy(partitionCols: _*).parquet(s"$runDir/$name")
      spark.read.parquet(s"$runDir/$name")
    }
    val chunkCol = s"chunk_${cfg.scoreChunks}"
    val stageOut = mutable.LinkedHashMap.empty[String, DataFrame]
    // frames the per-layer counts read after the traced run, so that no
    // bookkeeping job runs inside a span
    val pinned = mutable.Map.empty[String, DataFrame]
    var chunk0: () => DataFrame = null

    tr.span("pipeline") {
      val (keys, census, candidates) = tr.span("blocking") {
        val keys = tr.span("blocking.doc_keys")(Blocking.docKeys(docs, cfg.blocking).localCheckpoint(true))
        val census = tr.span("blocking.census")(Blocking.blockSizes(keys).localCheckpoint(true))
        val cand = tr.span("blocking.candidates")(ck("candidates", chunkCol)(
          Blocking.candidatesFromKeys(keys, cfg.blocking, Some(census))
            .withColumn(chunkCol, pmod(col("salt"), lit(cfg.scoreChunks)).cast("int"))))
        (keys, census, cand)
      }
      stageOut("candidates") = candidates
      pinned ++= Seq("keys" -> keys, "census" -> census)

      val scored = tr.span("scoring") {
        val textRep = tr.span("scoring.text_rep")(ck("text_rep")(Scoring.textRep(docs)))
        val mediaRep = tr.span("scoring.media_rep")(ck("media_rep")(Scoring.mediaRep(docs)))
        val dict = tr.span("scoring.text_dict") {
          val d = ck("text_dict")(Scoring.textDictDense(textRep))
          val g = d.agg(coalesce(sum(octet_length(col("t"))), lit(0L)), count(lit(1))).head()
          out.dictBytes = g.getLong(0) + 32L * g.getLong(1)
          d
        }
        require(out.dictBytes <= cfg.dictMaxBytes, "dictionary over dictMaxBytes: the pipeline would not use the fused path")
        val txtIds = tr.span("scoring.text_ids") {
          val t = ck("text_ids")(Scoring.textIdsRep(textRep, dict))
          out.bc = Scoring.broadcastDict(dict)
          t
        }
        stageOut ++= Seq("text_rep" -> textRep, "media_rep" -> mediaRep, "text_dict" -> dict, "text_ids" -> txtIds)
        def chunk(i: Int): DataFrame =
          Scoring.scoreWithRepsFused(candidates.where(col(chunkCol) === i), txtIds, mediaRep, cfg.weights, out.bc)
        chunk0 = () => chunk(0)
        val scoredPath = s"$runDir/scored_pairs"
        tr.span("scoring.pairs") {
          val pool = java.util.concurrent.Executors.newFixedThreadPool(math.min(cfg.scoreChunks, 8))
          implicit val ec: scala.concurrent.ExecutionContext = scala.concurrent.ExecutionContext.fromExecutor(pool)
          val futs = (0 until cfg.scoreChunks).map { i =>
            scala.concurrent.Future(chunk(i).write.mode("overwrite").parquet(s"$scoredPath/chunk=$i"))
          }
          try scala.concurrent.Await.result(scala.concurrent.Future.sequence(futs), scala.concurrent.duration.Duration.Inf)
          finally pool.shutdown()
        }
        spark.read.parquet(scoredPath).drop("chunk")
      }
      stageOut("scored_pairs") = scored

      val clusters = tr.span("cluster") {
        val assign = tr.span("cluster.cc") {
          val edges = scored.where(col("is_match")).select(col("doc_a").as("src"), col("doc_b").as("dst"))
          val r = ConnectedComponents.run(edges, docs.select("doc_id"), cfg.ccMaxIter)
          out.ccIterations = r.iterations
          r.assignments.localCheckpoint(true)
        }
        val cl = tr.span("cluster.attach")(ck("clusters")(
          mapBack(Attach.attachSingletons(assign, scored), Seq("doc_id", "cluster_id"))
            .repartitionByRange(col("cluster_id"), col("doc_id"))))
        pinned ++= Seq("cc_assign" -> assign)
        cl
      }
      stageOut("clusters") = clusters

      tr.span("lineage") {
        tr.span("lineage.meta") {
          stageOut.foreach { case (name, df) =>
            val lr = Lineage.lineageRows(df, name, "run")
            val rows = lr.collect()
            val total = rows.iterator.map(_.getLong(3)).sum
            out.rows(name) = total
            out.rows("lineage") = out.rows.getOrElse("lineage", 0L) + rows.length
            val ms: Seq[(String, Double)] = name match {
              case "candidates" =>
                val ids = docs0.agg(countDistinct(col("doc_id")), countDistinct(xxhash64(col("doc_id")))).head()
                require(ids.getLong(0) == ids.getLong(1), "xxhash64 doc_id collision")
                val drops = Blocking.dropMetrics(keys, cfg.blocking, Some(census)).head()
                out.droppedPairsEst = drops.getDouble(1)
                Seq("candidate_pairs" -> total.toDouble, "dropped_blocks" -> drops.getDouble(0),
                  "dropped_pairs_est" -> drops.getDouble(1))
              case "scored_pairs" =>
                out.matched = df.where(col("is_match")).count()
                Seq("scored_pairs" -> total.toDouble, "matched_pairs" -> out.matched.toDouble,
                  "dict_bcast_bytes" -> out.dictBytes.toDouble, "dict_fallback" -> 0.0)
              case "clusters" =>
                Seq("docs" -> total.toDouble,
                  "clusters" -> df.agg(countDistinct(col("cluster_id"))).head().getLong(0).toDouble,
                  "cc_iterations" -> out.ccIterations.toDouble)
              case _ => Nil
            }
            Lineage.writeCollectedLineage(spark, rows, lr.schema, runDir)
            Lineage.writeMetrics(spark, name, "run", ms :+ ("wall_ms" -> 0.0), runDir)
          }
        }
      }
    }
    pinned.foreach { case (k, df) => out.rows(k) = df.count() }
    out.singlesBefore = singletons(pinned("cc_assign"))
    out.singlesAfter = singletons(stageOut("clusters"))
    out.chunkExchanges = Plans.exchanges(chunk0())
    out.docs = out.rows("clusters")
    out.candidates = out.rows("candidates")
    out.scored = out.rows("scored_pairs")
    out
  }

  private def singletons(assign: DataFrame): Long =
    assign.groupBy("cluster_id").agg(count(lit(1)).as("n")).where(col("n") === 1).count()
}

object Plans {
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  /** Shuffle exchanges in the physical plan Spark picks for `df`
    * (the plan before adaptive re-optimisation). */
  def exchanges(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.initialPlan)
      case x => (if (x.isInstanceOf[ShuffleExchangeLike]) 1 else 0) + x.children.map(count).sum +
        x.subqueries.map(count).sum
    }
    count(df.queryExecution.executedPlan)
  }
}
