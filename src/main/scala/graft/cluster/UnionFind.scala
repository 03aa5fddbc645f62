package graft.cluster

/** Driver-side union-by-min with path compression, id-type generic
  * (string doc ids or the pipeline's dictionary-encoded longs — any
  * Comparable). Shared by the adaptive small-graph fast paths in
  * [[ConnectedComponents]] and [[Attach]]: below a bounded edge count,
  * one collect + one in-memory pass replaces ~2 shuffle rounds per
  * large-star/small-star iteration (latency-bound at small scale); the
  * distributed path stays the over-cap route.
  *
  * Union by MIN means every component's root IS its minimum member, so
  * the resulting labels are identical to the distributed algorithm's
  * min-id labels — callers can switch paths without output changes.
  */
private[cluster] object UnionFind {

  private def lt(a: Any, b: Any): Boolean =
    a.asInstanceOf[Comparable[Any]].compareTo(b) < 0

  /** The doubled capacity of a power-of-two [[LongLongMap]]. Fails
    * loudly past 2^30 slots, where the shift would wrap Int and corrupt
    * the map; reachable only by raising
    * `ConnectedComponents.run`'s `maxLocalEdges` far past its default. */
  private[cluster] def nextCapacity(cap: Int): Int = {
    require(cap > 0 && cap < (1 << 30),
      s"union-find map capacity $cap cannot double past 2^30 slots; lower maxLocalEdges")
    cap << 1
  }

  /** Open-addressing long→long map (linear probing, power-of-two
    * capacity, explicit occupancy array so the full key range is
    * usable — doc ids are xxhash64 values). Driver-side only. */
  private final class LongLongMap(initialCap: Int) {
    private var cap = Integer.highestOneBit(math.max(16, initialCap) * 2 - 1) << 1
    private var mask = cap - 1
    private var ks = new Array[Long](cap)
    private var vs = new Array[Long](cap)
    private var occ = new Array[Boolean](cap)
    private var n = 0

    private def idx(k: Long): Int = {
      var i = (java.lang.Long.hashCode(k * -7046029254386353131L)) & mask
      while (occ(i) && ks(i) != k) i = (i + 1) & mask
      i
    }

    def getOrDefault(k: Long, dflt: Long): Long = {
      val i = idx(k)
      if (occ(i)) vs(i) else dflt
    }

    def put(k: Long, v: Long): Unit = {
      val i = idx(k)
      if (!occ(i)) {
        occ(i) = true; ks(i) = k; n += 1
        if (n * 2 > cap) grow()
      }
      vs(idx(k)) = v
    }

    private def grow(): Unit = {
      val oks = ks; val ovs = vs; val oocc = occ
      cap = nextCapacity(cap); mask = cap - 1
      ks = new Array[Long](cap); vs = new Array[Long](cap); occ = new Array[Boolean](cap)
      val on = n; n = 0
      var i = 0
      while (i < oks.length) {
        if (oocc(i)) { val j = idx(oks(i)); occ(j) = true; ks(j) = oks(i); vs(j) = ovs(i); n += 1 }
        i += 1
      }
      require(n == on)
    }

    def foreachKey(f: Long => Unit): Unit = {
      var i = 0
      while (i < ks.length) { if (occ(i)) f(ks(i)); i += 1 }
    }

    def size: Int = n
  }

  /** Long-specialized [[minLabels]]: identical union-by-min semantics
    * on primitive arrays — no boxing, no Comparable dispatch. The
    * bench-scale graph (~4M edges of dictionary-encoded long ids) spent
    * multiple driver-seconds in the generic HashMap[Any,Any] path; this
    * is the same algorithm on an open-addressing long map. */
  def minLabelsLong(src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) = {
    val parent = new LongLongMap(1 << 16)
    def find(x: Long): Long = {
      var r = x
      var p = parent.getOrDefault(r, r)
      while (p != r) { r = p; p = parent.getOrDefault(r, r) }
      var c = x
      while (c != r) { val nx = parent.getOrDefault(c, c); if (nx != r && c != r) parent.put(c, r); c = nx }
      r
    }
    var i = 0
    while (i < src.length) {
      val a = find(src(i)); val b = find(dst(i))
      if (a != b) { if (a < b) parent.put(b, a) else parent.put(a, b) }
      i += 1
    }
    val outK = new Array[Long](parent.size)
    val outV = new Array[Long](parent.size)
    var j = 0
    parent.foreachKey { k =>
      val r = find(k)
      if (r != k) { outK(j) = k; outV(j) = r; j += 1 }
    }
    (java.util.Arrays.copyOf(outK, j), java.util.Arrays.copyOf(outV, j))
  }

  /** Labels for every node that ends up attached to a smaller root:
    * (node, min-root) pairs. Nodes absent from the result are their own
    * root (callers left-join and coalesce to the node id). */
  def minLabels(edges: Array[org.apache.spark.sql.Row]): Seq[(Any, Any)] = {
    val parent = scala.collection.mutable.HashMap.empty[Any, Any]
    def find(x: Any): Any = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edges.foreach { row =>
      val (a, b) = (find(row.get(0)), find(row.get(1)))
      if (a != b) { if (lt(a, b)) parent(b) = a else parent(a) = b }
    }
    parent.keys.toSeq.map(k => (k, find(k)))
  }

  /** The label pairs as a 2-column DataFrame with the given column
    * names, typed like `idType`.
    *
    * The labels ship to executors as ONE broadcast variable consumed by
    * `mapPartitions` over a row-range RDD — `parallelize(rows)` would
    * serialize the slice of label pairs into every task closure
    * (measured: "task of very large size (8350 KiB)" warnings at the
    * 5M-edge adaptive cap). The broadcast is sent once per executor,
    * tasks carry only (start, end) offsets. */
  def labelFrame(
      spark: org.apache.spark.sql.SparkSession,
      labels: Seq[(Any, Any)],
      idType: org.apache.spark.sql.types.DataType,
      keyCol: String,
      valCol: String
  ): org.apache.spark.sql.DataFrame = {
    val arr = labels.toArray
    val bc = spark.sparkContext.broadcast(arr)
    val parts = math.max(1, math.min(arr.length / 50000, spark.sparkContext.defaultParallelism))
    val rdd = spark.sparkContext
      .parallelize(0 until parts, parts)
      .mapPartitions { it =>
        val a = bc.value
        it.flatMap { p =>
          val start = (p.toLong * a.length / parts).toInt
          val end = ((p + 1).toLong * a.length / parts).toInt
          (start until end).iterator.map { i =>
            val kv = a(i); org.apache.spark.sql.Row(kv._1, kv._2)
          }
        }
      }
    spark.createDataFrame(
      rdd,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField(keyCol, idType),
        org.apache.spark.sql.types.StructField(valCol, idType)
      ))
    )
  }
}
