package graft.cluster

/** Exposes the package-private in-memory union-find kernel to the
  * benchmark's single-thread timing. */
object UnionFindAccess {
  def minLabelsLong(src: Array[Long], dst: Array[Long]): (Array[Long], Array[Long]) =
    UnionFind.minLabelsLong(src, dst)
}
