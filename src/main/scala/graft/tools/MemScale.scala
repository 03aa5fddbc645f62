package graft.tools

import graft.util.{MemBw, MemGather}

/** Thread-count scaling ladder for the two memory access patterns the
  * pipeline's hot stages exercise, run back to back with a steal
  * reading so the artifact is self-classifying:
  *
  *  - sequential triad (MemBw): the scan/shuffle/spill pattern;
  *  - random gather (MemGather): the broadcast-dictionary / hash-probe
  *    pattern that dominates stage S.
  *
  * The number that matters is each pattern's OWN 8→32 efficiency. If
  * gather lands at stage S's measured ratio while the pure-ALU probe
  * (Jaro-Winkler, measured 0.92) doesn't, the stage-S ceiling is the
  * box's memory-parallelism limit measured directly.
  *
  * Run: `sbt "runMain graft.tools.MemScale [out.json]"` (or plain java
  * like auto_trio.sh to avoid sbt noise).
  */
object MemScale {
  private def statParts(): Array[Long] = graft.util.HostProbe.statParts()

  def main(args: Array[String]): Unit = {
    // steal measured across the ladder itself: the probes ARE the load
    // (round-5 lesson — idle steal readings certify nothing)
    val s0 = statParts(); val t0 = System.nanoTime()
    val ladder = Seq(1, 2, 8, 32)
    val gather = ladder.map(t => t -> MemGather.probeMGps(t)).toMap
    val triad = ladder.map(t => t -> MemBw.probeGBps(threads = t)).toMap
    val s1 = statParts()
    val wall = (System.nanoTime() - t0) / 1e9
    val stealCores = if (s0.length > 7 && s1.length > 7) (s1(7) - s0(7)) / 100.0 / wall else -1.0
    def eff(m: Map[Int, Double], a: Int, b: Int): Double = m(b) / m(a) / (b / a)
    val json =
      s"""{"gather_mgps":{${ladder.map(t => s""""$t":${f"${gather(t)}%.1f"}""").mkString(",")}},""" +
        s""""triad_gbps":{${ladder.map(t => s""""$t":${f"${triad(t)}%.1f"}""").mkString(",")}},""" +
        s""""gather_eff_2_8":${f"${eff(gather, 2, 8)}%.3f"},"gather_eff_8_32":${f"${eff(gather, 8, 32)}%.3f"},""" +
        s""""triad_eff_2_8":${f"${eff(triad, 2, 8)}%.3f"},"triad_eff_8_32":${f"${eff(triad, 8, 32)}%.3f"},""" +
        s""""steal_cores_during":${f"$stealCores%.2f"}}"""
    println(json)
    args.headOption.foreach(p => java.nio.file.Files.writeString(java.nio.file.Paths.get(p), json + "\n"))
  }
}
