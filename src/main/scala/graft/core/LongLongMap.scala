package graft.core

/** Minimal primitive open-addressing long → long hash map for RDD-side
  * per-partition combining in the iterative graph kernels (round 14).
  *
  * Why it exists: `reduceByKey`'s generic map-side combine boxes every
  * key into `java.lang.Long` for its `AppendOnlyMap` — measured at
  * ~0.3 s per pagerank round over 2.4M contribution entries at sf0.1
  * (vs ~0.1 s for the join+flatMap producing them). Pre-combining inside
  * `zipPartitions` with this primitive map leaves the shuffle carrying
  * one entry per (partition, node) instead of one per contribution, and
  * the inner loop is allocation-free.
  *
  * Not thread-safe; one instance per task. Linear probing, power-of-two
  * capacity, load factor 0.7. All combine ops (sum, min) are
  * order-independent, so task-order nondeterminism cannot leak into
  * results. */
final class LongLongMap(initialCapacity: Int = 1 << 10) {
  private[this] var cap = {
    var c = 16
    while (c < initialCapacity) c <<= 1
    c
  }
  private[this] var mask = cap - 1
  private[this] var keys = new Array[Long](cap)
  private[this] var vals = new Array[Long](cap)
  private[this] var used = new Array[Boolean](cap)
  private[this] var n = 0

  @inline private[this] def slot(k: Long): Int = {
    // 64-bit finalizer mix (splitmix64 tail) then mask
    var h = k
    h ^= h >>> 33; h *= -0x7ee3623a03d6f679L
    h ^= h >>> 29; h *= -0x3b314601e57a13adL
    h ^= h >>> 32
    h.toInt & mask
  }

  private[this] def grow(): Unit = {
    val ok = keys; val ov = vals; val ou = used; val oc = cap
    cap <<= 1; mask = cap - 1; n = 0
    keys = new Array[Long](cap); vals = new Array[Long](cap)
    used = new Array[Boolean](cap)
    var i = 0
    while (i < oc) {
      if (ou(i)) update(ok(i), ov(i))
      i += 1
    }
  }

  /** Set k → v (overwrite). */
  def update(k: Long, v: Long): Unit = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (!used(i)) {
      used(i) = true; keys(i) = k; n += 1
      if (n * 10 > cap * 7) { vals(i) = v; grow(); return }
    }
    vals(i) = v
  }

  /** k → (existing + delta), inserting delta if absent. */
  def addTo(k: Long, delta: Long): Unit = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (used(i)) vals(i) += delta
    else update(k, delta)
  }

  /** k → min(existing, v), inserting v if absent. */
  def minTo(k: Long, v: Long): Unit = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (used(i)) { if (v < vals(i)) vals(i) = v }
    else update(k, v)
  }

  /** k → f(existing, v), inserting v if absent. */
  def merge(k: Long, v: Long, f: (Long, Long) => Long): Unit = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (used(i)) vals(i) = f(vals(i), v)
    else update(k, v)
  }

  def getOrElse(k: Long, default: Long): Long = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    if (used(i)) vals(i) else default
  }

  def contains(k: Long): Boolean = {
    var i = slot(k)
    while (used(i) && keys(i) != k) i = (i + 1) & mask
    used(i)
  }

  def size: Int = n

  /** Iterate entries in slot order (arbitrary but deterministic for a
    * given insertion history; callers only feed order-independent
    * combines downstream). */
  def iterator: Iterator[(Long, Long)] = new Iterator[(Long, Long)] {
    private[this] var i = 0
    private[this] def advance(): Unit = { while (i < cap && !used(i)) i += 1 }
    advance()
    def hasNext: Boolean = i < cap
    def next(): (Long, Long) = {
      val r = (keys(i), vals(i)); i += 1; advance(); r
    }
  }

  def foreachEntry(f: (Long, Long) => Unit): Unit = {
    var i = 0
    while (i < cap) {
      if (used(i)) f(keys(i), vals(i))
      i += 1
    }
  }

  /** Replace each entry's value v by f(key, v), in place, in slot order. */
  def transformValues(f: (Long, Long) => Long): Unit = {
    var i = 0
    while (i < cap) {
      if (used(i)) vals(i) = f(keys(i), vals(i))
      i += 1
    }
  }

  /** The entries whose value passes `keep`, interleaved [k0, v0, k1, v1, …]
    * — the primitive form a map takes through a closure or a collect. */
  def toFlat(keep: Long => Boolean = _ => true): Array[Long] = {
    val out = new Array[Long](2 * n)
    var w = 0
    var i = 0
    while (i < cap) {
      if (used(i) && keep(vals(i))) { out(w) = keys(i); out(w + 1) = vals(i); w += 2 }
      i += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }
}

object LongLongMap {
  /** A map of interleaved [k0, v0, k1, v1, …] entries (see `toFlat`). */
  def ofFlat(flat: Array[Long]): LongLongMap = {
    val m = new LongLongMap(math.max(16, flat.length))
    var i = 0
    while (i < flat.length) { m.update(flat(i), flat(i + 1)); i += 2 }
    m
  }
}
