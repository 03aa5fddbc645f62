package perfbench

import scala.collection.mutable
import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.blocking.Blocking
import graft.pipeline.Pipeline
import graft.schema.Fixture
import graft.tools.Calibrate

/** Benchmark of the B→S→C resolver: one process, one client, closed loop.
  *
  * `--trace 0`: set up (session, seeded inputs, one reference call),
  * then call `Pipeline.run` on the same inputs into fresh run dirs until
  * `--seconds` have passed; every call's clusters must equal the
  * reference's. Prints the end-to-end metrics (medians over the calls).
  *
  * `--trace 1`: set up, one untraced call, then the resolver composed
  * from each layer's public functions with a span per layer call (see
  * [[Compose]]), plus single-thread kernel timings. Prints the per-layer
  * metrics.
  *
  * The last stdout line is the result object, prefixed `PERFBENCH_RESULT `
  * (the launcher strips the prefix). Exit code 1 when any check failed. */
object PerfBench {

  /** A workload: seeded fixture shape plus the block-size cap. The cap is
    * scaled to the corpus so that, as at the full-size reference scale,
    * the fixture's 5% hot asset block is over it and dropped while every
    * per-entity block and the live-event blocks stay under it. */
  final case class Workload(name: String, fixture: Long => Fixture.Cfg, liveEvent: Boolean, maxBlockSize: Int) {
    def pipelineCfg: Pipeline.Cfg = Pipeline.Cfg(blocking = Blocking.Cfg(maxBlockSize = maxBlockSize))
  }

  val workloads: Map[String, Workload] = Seq(
    // pair scoring dominates; the live-event docs (one per entity) add
    // a shared media block and shared-text LSH blocks under the cap.
    // Docs per entity are kept in a narrow band around the default
    // range's mean so that input size, and so cost, does not swing
    // with the seed at this entity count.
    Workload("batch_live", s => Fixture.Cfg(entities = 50, seed = s, docsPerEntityMin = 60, docsPerEntityMax = 70),
      liveEvent = true, maxBlockSize = 110),
    // per-doc work dominates: many small entities, few pairs per doc
    Workload("batch_sparse", s => Fixture.Cfg(entities = 1500, seed = s, docsPerEntityMin = 2, docsPerEntityMax = 4),
      liveEvent = false, maxBlockSize = 110)
  ).map(w => w.name -> w).toMap

  final case class Args(workload: Workload, seed: Long, seconds: Double, trace: Boolean,
      work: String, out: String, cores: Int, corruptReference: Boolean)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val wl = workloads.getOrElse(need("workload"),
      throw new IllegalArgumentException(s"unknown workload; expected one of ${workloads.keys.toSeq.sorted.mkString(", ")}"))
    Args(wl, need("seed").toLong, need("seconds").toDouble, need("trace") == "1", need("work"), need("out"),
      need("cores").toInt, kv.get("corrupt-reference").contains("1"))
  }

  // ---- host context: recorded beside each sample, never a gate ----
  final case class Host(stat: Array[Long], selfTicks: Long)
  private def host(): Option[Host] = Try {
    val self = scala.io.Source.fromFile("/proc/self/stat").mkString
    val f = self.substring(self.lastIndexOf(')') + 2).split(" ")
    Host(graft.util.HostProbe.statParts(), f(11).toLong + f(12).toLong)
  }.toOption
  /** (steal core-s, foreign busy core-s, 1-min load average) over an interval. */
  private def hostCtx(a: Option[Host], b: Option[Host]): (Double, Double, Double) = (a, b) match {
    case (Some(x), Some(y)) if x.stat.length > 7 && y.stat.length > 7 =>
      def d(i: Int) = (y.stat(i) - x.stat(i)).toDouble
      // a guest's own CPU time includes what the hypervisor stole from it
      val busy = Seq(0, 1, 2, 5, 6, 7).map(d).sum
      val load = Try(scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble).getOrElse(-1.0)
      (d(7) / 100, (busy - (y.selfTicks - x.selfTicks)) / 100, load)
    case _ => (-1.0, -1.0, -1.0)
  }

  private def dirBytes(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!java.nio.file.Files.exists(root)) 0L
    else {
      val s = java.nio.file.Files.walk(root)
      try s.filter(f => java.nio.file.Files.isRegularFile(f) && !f.getFileName.toString.startsWith("."))
        .mapToLong(f => java.nio.file.Files.size(f)).sum()
      finally s.close()
    }
  }
  private def rm(p: String): Unit = org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(p))

  /** Order-insensitive content fingerprint of a clusters table. */
  private def fingerprint(spark: SparkSession, runDir: String): (Long, Long) = {
    val r = spark.read.parquet(s"$runDir/clusters")
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"), col("cluster_id"))), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  final case class Sample(call: Int, wallS: Double, cpuS: Double, amp: Double, ok: Boolean,
      steal: Double, foreign: Double, load: Double) {
    def json: String =
      s"""{"call":$call,"wall_s":$wallS,"task_cpu_s":$cpuS,"ckpt_write_amp":$amp,"ok":$ok,""" +
        s""""steal_s":$steal,"foreign_cpu_s":$foreign,"load1":$load}"""
  }

  def main(argv: Array[String]): Unit = {
    val a = Try(parse(argv)) match {
      case Success(x) => x
      case Failure(e) => System.err.println(s"perfbench: ${e.getMessage}"); sys.exit(2)
    }
    val uptime = java.lang.management.ManagementFactory.getRuntimeMXBean
    val spark = SparkSession.builder()
      .master(s"local[${a.cores}]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", a.cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.files.openCostInBytes", "8m")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sc = spark.sparkContext
    val ledger = new TaskLedger
    sc.addSparkListener(ledger)
    val wl = a.workload
    val cfg = wl.pipelineCfg
    val lines = mutable.ArrayBuffer.empty[String]
    def say(s: String): Unit = { println(s); lines += s }
    var attempted = 0
    var failed = 0
    val result =
      try {
        // ---- set-up: seeded inputs, then the reference call ----
        val fx = wl.fixture(a.seed)
        val input = s"${a.work}/input"
        locally {
          import spark.implicits._
          val (liveDocs, liveLabels) =
            if (wl.liveEvent) Fixture.liveEventDocs(fx, perEntity = 1) else (Nil, Nil)
          Fixture.docs(spark, fx).union(liveDocs.toDS()).write.parquet(s"$input/docs")
          Fixture.labels(spark, fx).union(liveLabels.toDS()).write.parquet(s"$input/labels")
        }
        val inputBytes = dirBytes(s"$input/docs")
        def call(dir: String): Pipeline.Result = Pipeline.run(spark, spark.read.parquet(s"$input/docs"), dir, cfg)
        val refDir = s"${a.work}/ref"
        val ref = call(refDir)
        attempted += 1
        val refFp0 = fingerprint(spark, refDir)
        // --corrupt-reference: proves a wrong reference fails the run
        val refFp = if (a.corruptReference) (refFp0._1, refFp0._2 ^ 1L) else refFp0
        val setupS = uptime.getUptime / 1000.0
        say(f"setup workload=${wl.name} seed=${a.seed} setup_s=$setupS%.3f cores=${a.cores}")

        def timedCall(i: Int): Sample = {
          val dir = s"${a.work}/call$i"
          val h0 = host()
          val cpu0 = ledger.cpuNs(sc)
          val t0 = System.nanoTime()
          val outcome = Try(call(dir))
          val wall = (System.nanoTime() - t0) / 1e9
          val cpu = (ledger.cpuNs(sc) - cpu0) / 1e9
          val (steal, foreign, load) = hostCtx(h0, host())
          attempted += 1
          val ok = outcome.isSuccess && Try(fingerprint(spark, dir)).toOption.contains(refFp)
          outcome.failed.foreach(e => e.printStackTrace())
          if (!ok) failed += 1
          val s = Sample(i, wall, cpu, dirBytes(dir).toDouble / inputBytes, ok, steal, foreign, load)
          rm(dir)
          say(f"sample call=$i wall_s=$wall%.3f task_cpu_s=$cpu%.3f ckpt_write_amp=${s.amp}%.4f ok=$ok " +
            f"steal_s=$steal%.2f foreign_cpu_s=$foreign%.2f load1=$load%.2f")
          s
        }

        if (!a.trace) {
          val t0 = System.nanoTime()
          val samples = mutable.ArrayBuffer.empty[Sample]
          while (samples.isEmpty || (System.nanoTime() - t0) / 1e9 < a.seconds) samples += timedCall(samples.size + 1)
          // labels joined over the reference call's candidates and clusters
          val (p, r, f1, _, _) = Calibrate.pairwiseF1(
            Calibrate.clusterPairs(ref.clusters, ref.candidates), ref.candidates, spark.read.parquet(s"$input/labels"))
          val nDocs = spark.read.parquet(s"$input/docs").count()
          val wall = Stats.median(samples.map(_.wallS).toSeq)
          val m = Seq(
            ("wall_s", wall, "s"),
            ("docs_per_s", nDocs / wall, "docs/s"),
            ("task_cpu_s", Stats.median(samples.map(_.cpuS).toSeq), "core-s"),
            ("ckpt_write_amp", Stats.median(samples.map(_.amp).toSeq), "ratio"),
            ("pairwise_f1", f1, "ratio"),
            ("setup_s", setupS, "s"))
          say(f"quality precision=$p%.4f recall=$r%.4f f1=$f1%.4f docs=$nDocs candidate_pairs=${ref.candidates.count()}")
          say(f"fail_frac=${failed.toDouble / attempted}%.4f attempted=$attempted failed=$failed")
          m.foreach { case (n, v, u) => say(s"metric $n $v $u") }
          (m, samples.map(_.json).mkString("[", ",", "]"), "[]")
        } else {
          val untraced = timedCall(1)
          val traceDir = s"${a.work}/traced"
          val tr = new Tracer(sc, s"${wl.name}-${a.seed}")
          val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.toArray(
            Array.empty[java.lang.management.MemoryPoolMXBean]).filter(_.getType == java.lang.management.MemoryType.HEAP)
          pools.foreach(_.resetPeakUsage())
          val comp = Compose.run(spark, spark.read.parquet(s"$input/docs"), traceDir, cfg, tr)
          val heapPeak = pools.map(_.getPeakUsage.getUsed).sum / 1e9
          attempted += 1
          val composedOk = fingerprint(spark, traceDir) == refFp
          if (!composedOk) failed += 1
          say(s"traced composition clusters equal Pipeline.run's: $composedOk")

          val cand = spark.read.parquet(s"$traceDir/candidates")
          val mh = Kernels.minhash(spark.read.parquet(s"$input/docs"), cfg.blocking)
          val fs = Kernels.fusedSpan(cand, spark.read.parquet(s"$traceDir/text_ids"), cfg, comp.bc)
          val jw = Kernels.jw(cand, spark.read.parquet(s"$traceDir/text_rep"))
          val uf = Kernels.unionFind(spark.read.parquet(s"$traceDir/scored_pairs"))

          val root = tr.seconds("pipeline")
          val layers = Seq("blocking", "scoring", "cluster", "lineage")
          val leaves = Seq(
            "blocking.doc_keys" -> "keys", "blocking.census" -> "census", "blocking.candidates" -> "candidates",
            "scoring.text_rep" -> "text_rep", "scoring.media_rep" -> "media_rep", "scoring.text_dict" -> "text_dict",
            "scoring.text_ids" -> "text_ids", "scoring.pairs" -> "scored_pairs", "cluster.cc" -> "cc_assign",
            "cluster.attach" -> "clusters", "lineage.meta" -> "lineage")
          val m = mutable.ArrayBuffer.empty[(String, Double, String)]
          leaves.foreach { case (span, rowsKey) =>
            val t = ledger.span(sc, span)
            m ++= Seq(
              (s"$span.wall_s", tr.seconds(span), "s"),
              (s"$span.task_cpu_s", t.cpuNs / 1e9, "core-s"),
              (s"$span.gc_s", t.gcMs / 1e3, "s"),
              (s"$span.shuffle_mb", t.shuffleBytes / 1e6, "MB"),
              (s"$span.spill_mb", t.spillBytes / 1e6, "MB"),
              (s"$span.tasks", t.tasks.toDouble, "count"),
              (s"$span.task_skew", t.skew, "ratio"),
              (s"$span.rows_out", comp.rows.getOrElse(rowsKey, 0L).toDouble, "rows"))
          }
          (layers :+ "pipeline").foreach(l => say(f"span $l wall_s=${tr.seconds(l)}%.3f self_s=${tr.selfSeconds(l)}%.3f"))
          say(s"kernel samples: minhash_docs=${mh._2} fused_span_pairs=${fs._2} jw_calls=${jw._2} union_find_edges=${uf._2}")
          val leafSum = leaves.map(l => tr.seconds(l._1)).sum
          m ++= Seq(
            ("blocking.pairs_per_doc", comp.candidates.toDouble / comp.docs, "ratio"),
            ("blocking.dropped_pair_frac", comp.droppedPairsEst / (comp.droppedPairsEst + comp.candidates), "ratio"),
            ("scoring.match_frac", comp.matched.toDouble / comp.scored, "ratio"),
            ("scoring.pairs.exchanges", comp.chunkExchanges.toDouble, "count"),
            ("scoring.dict_mb", comp.dictBytes / 1e6, "MB"),
            ("cluster.cc.iterations", comp.ccIterations.toDouble, "count"),
            ("cluster.attach.attached_frac",
              if (comp.singlesBefore == 0) 0.0 else (comp.singlesBefore - comp.singlesAfter).toDouble / comp.singlesBefore,
              "ratio"),
            ("pipeline.glue_s", untraced.wallS - layers.map(tr.seconds).sum, "s"),
            ("pipeline.trace_overhead_s", root - untraced.wallS, "s"),
            ("pipeline.trace_coverage", leafSum / root, "ratio"),
            ("pipeline.heap_peak_gb", heapPeak, "GB"),
            ("functions.minhash_ns_per_doc", mh._1, "ns"),
            ("functions.fused_span_ns_per_pair", fs._1, "ns"),
            ("functions.jw_ns_per_call", jw._1, "ns"),
            ("cluster.union_find_ns_per_edge", uf._1, "ns"))
          say(f"trace wall_s=$root%.3f untraced_wall_s=${untraced.wallS}%.3f coverage=${leafSum / root}%.3f")
          say(f"fail_frac=${failed.toDouble / attempted}%.4f attempted=$attempted failed=$failed")
          m.foreach { case (n, v, u) => say(s"metric $n $v $u") }
          (m.toSeq, s"[${untraced.json}]", tr.toJson)
        }
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          attempted = math.max(attempted, 1)
          failed += 1
          (Nil, "[]", "[]")
      }
    val (metrics, samplesJson, spansJson) = result
    Try {
      new java.io.File(a.out).mkdirs()
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(a.out, s"${wl.name}-seed${a.seed}-trace${if (a.trace) 1 else 0}.json"),
        s"""{"workload":"${wl.name}","seed":${a.seed},"samples":$samplesJson,"spans":$spansJson,""" +
          s""""log":${lines.map(l => "\"" + l.replace("\\", "\\\\").replace("\"", "\\\"") + "\"").mkString("[", ",", "]")}}""")
    }
    spark.stop()
    val ok = failed == 0 && metrics.nonEmpty
    val mj = metrics.map { case (n, v, u) => s""""$n":{"value":${fmt(v)},"unit":"$u"}""" }.mkString(",")
    println(s"""PERFBENCH_RESULT {"correct":$ok,"attempted":$attempted,"failed":$failed,"metrics":{$mj}}""")
    System.out.flush()
    sys.exit(if (ok) 0 else 1)
  }

  private def fmt(v: Double): String = if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
}
