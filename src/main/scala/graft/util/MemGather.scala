package graft.util

/** Random-gather memory probe — the DIRECT measurement behind the
  * stage-S 8→32 scaling attribution.
  *
  * MemBw (STREAM triad) measures sequential BANDWIDTH; stage S's hot
  * loop does something different: per-pair random access into a large
  * broadcast dictionary plus hash-relation probes — latency-bound
  * independent gathers whose throughput is capped by the memory
  * controller's outstanding-miss concurrency, a resource that stops
  * scaling with thread count long before sequential bandwidth does.
  * If THIS probe's 8→32 efficiency lands where stage S's does
  * (0.4-0.6) while a pure-ALU Jaro-Winkler probe scales at 0.92, the
  * stage-S ratio is the box's memory-parallelism ceiling measured
  * directly, not a code property.
  *
  * Method: one shared read-only long array sized well past the LLC
  * (default 512 MB); T threads sweep LCG-generated positions and fold
  * the loads (data-independent addresses → full MLP, the dictionary
  * pattern); gathers/s = completed loads ÷ elapsed.
  */
object MemGather {

  @volatile private var sink: Long = 0L

  /** Million gathers per second at `threads` over a shared array of
    * `arrayLongs` longs (power of two). */
  def probeMGps(
      threads: Int,
      arrayLongs: Int = 64 << 20,
      sweepMillis: Long = 1500
  ): Double = {
    require((arrayLongs & (arrayLongs - 1)) == 0, "arrayLongs must be a power of two")
    val a = sharedArray(arrayLongs)
    val mask = arrayLongs - 1
    val gathers = new java.util.concurrent.atomic.AtomicLong
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val barrier = new java.util.concurrent.CyclicBarrier(threads + 1)
    val ts = (0 until threads).map { tid =>
      val t = new Thread(() => {
        var x = 0x9E3779B97F4A7C15L * (tid + 1)
        var acc = 0L
        // untimed warm pass: JIT the loop
        var w = 0
        while (w < 4096) {
          x = x * 6364136223846793005L + 1442695040888963407L
          acc += a(((x >>> 17) & mask).toInt)
          w += 1
        }
        barrier.await()
        var g = 0L
        while (!stop.get()) {
          var j = 0
          while (j < 4096) {
            x = x * 6364136223846793005L + 1442695040888963407L
            acc += a(((x >>> 17) & mask).toInt)
            j += 1
          }
          g += 4096
        }
        gathers.addAndGet(g)
        sink += acc
      })
      t.setDaemon(true)
      t.start()
      t
    }
    barrier.await()
    val t0 = System.nanoTime()
    Thread.sleep(sweepMillis)
    stop.set(true)
    val elapsed = (System.nanoTime() - t0) / 1e9
    ts.foreach(_.join())
    gathers.get() / elapsed / 1e6
  }

  // the array is probe-invariant data; share it across ladder steps so
  // a thread-count sweep measures the memory system, not allocation
  private var cached: Array[Long] = _
  private def sharedArray(n: Int): Array[Long] = synchronized {
    if (cached == null || cached.length != n) {
      val a = new Array[Long](n)
      var i = 0
      while (i < n) { a(i) = i * 0x9E3779B97F4A7C15L; i += 1 }
      cached = a
    }
    cached
  }
}
