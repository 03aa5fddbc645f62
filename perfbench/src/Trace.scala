package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-metric totals of one attribution key (a span, or the whole run). */
final class TaskAgg {
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  /** stageId -> task durations (ms), for the skew of the heaviest stage */
  val durations = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]

  def add(stageId: Int, m: org.apache.spark.executor.TaskMetrics, durMs: Long): Unit = {
    cpuNs += m.executorCpuTime
    gcMs += m.jvmGCTime
    shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
    spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    tasks += 1
    durations.getOrElseUpdate(stageId, mutable.ArrayBuffer.empty) += durMs
  }

  /** max ÷ median task time of the stage with the most task time
    * (1.0 when the span ran no multi-task stage). */
  def skew: Double = {
    val multi = durations.values.filter(_.size > 1)
    if (multi.isEmpty) 1.0
    else {
      val d = multi.maxBy(_.sum).sorted
      val med = Stats.median(d.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else d.last / med
    }
  }
}

/** Books every finished task to the span named by the `graft.bench.span`
  * local property of the job that ran it, and to a run-wide total.
  * Local properties are inherited by threads a span starts (the scoring
  * chunk pool, the checkpoint-metadata pool), so concurrent work lands
  * in the span that submitted it. */
final class TaskLedger extends SparkListener {
  val total = new TaskAgg
  val bySpan = mutable.Map.empty[String, TaskAgg]
  private val stageSpan = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.Prop)))
    span.foreach(s => e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, s)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val dur = e.taskInfo.duration
      total.add(e.stageId, m, dur)
      stageSpan.get(e.stageId).foreach(s => bySpan.getOrElseUpdate(s, new TaskAgg).add(e.stageId, m, dur))
    }
  }

  def cpuNs(sc: SparkContext): Long = { org.apache.spark.BusDrain.drain(sc); synchronized(total.cpuNs) }
  def span(sc: SparkContext, name: String): TaskAgg = {
    org.apache.spark.BusDrain.drain(sc)
    synchronized(bySpan.getOrElse(name, new TaskAgg))
  }
}

final case class SpanRec(id: Int, name: String, parent: Int, traceId: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** In-memory span recorder: name, start, end, parent and trace id. The
  * span id is set as the `graft.bench.span` local property for the
  * duration of the span, which is how [[TaskLedger]] attributes tasks. */
final class Tracer(sc: SparkContext, val traceId: String) {
  val epochNs: Long = System.nanoTime()
  val spans = mutable.ArrayBuffer.empty[SpanRec]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 1

  def span[A](name: String)(body: => A): A = {
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(0)
    val prevProp = sc.getLocalProperty(Tracer.Prop)
    stack = (id, name) :: stack
    sc.setLocalProperty(Tracer.Prop, name)
    val t0 = System.nanoTime()
    try body
    finally {
      spans += SpanRec(id, name, parent, traceId, t0, System.nanoTime())
      stack = stack.tail
      sc.setLocalProperty(Tracer.Prop, prevProp)
    }
  }

  def byName(name: String): Seq[SpanRec] = spans.filter(_.name == name).toSeq
  def seconds(name: String): Double = byName(name).map(_.seconds).sum
  def children(id: Int): Seq[SpanRec] = spans.filter(_.parent == id).toSeq
  /** Span duration minus the time its children cover. */
  def selfSeconds(name: String): Double =
    byName(name).map(s => s.seconds - children(s.id).map(_.seconds).sum).sum

  def toJson: String = spans.sortBy(_.startNs).map { s =>
    f"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"trace":"${s.traceId}",""" +
      f""""start_s":${(s.startNs - epochNs) / 1e9}%.6f,"end_s":${(s.endNs - epochNs) / 1e9}%.6f}"""
  }.mkString("[", ",\n", "]")
}

object Tracer {
  val Prop = "graft.bench.span"
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
