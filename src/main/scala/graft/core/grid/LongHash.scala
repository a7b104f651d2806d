package graft.core.grid

/** Primitive open-addressing hash set for packed (row,col) long keys (an
  * island's cells, the HTML table builder's rowspan shadows).
  *
  * Boxed java.lang.Long keys made the kernel GC-bound and capped thread
  * scaling at ~1.7× from 8→32 cores. Keys are always >= 0 (row,col >= 0),
  * so -1 is a free empty sentinel. Linear probing, power-of-two capacity,
  * no deletion (the kernel never removes).
  */
object LongHash {
  final val Empty = -1L

  @inline def mix(k: Long): Int = {
    var z = k * -7046029254386353131L
    z ^= (z >>> 32)
    z.toInt
  }
}

final class LongHashSet(initialCapacity: Int = 16) extends Serializable {
  import LongHash._
  private var cap = Integer.highestOneBit(math.max(16, initialCapacity * 2) - 1) << 1
  private var keys = {
    val a = new Array[Long](cap)
    java.util.Arrays.fill(a, Empty)
    a
  }
  private var _size = 0

  def size: Int = _size
  def isEmpty: Boolean = _size == 0
  def nonEmpty: Boolean = _size > 0

  def contains(k: Long): Boolean = {
    if (k < 0) return false
    val mask = cap - 1
    var i = mix(k) & mask
    while (true) {
      val cur = keys(i)
      if (cur == Empty) return false
      if (cur == k) return true
      i = (i + 1) & mask
    }
    false
  }

  def add(k: Long): Boolean = {
    require(k >= 0, "negative key")
    if (_size * 2 >= cap) grow()
    val mask = cap - 1
    var i = mix(k) & mask
    while (true) {
      val cur = keys(i)
      if (cur == Empty) {
        keys(i) = k
        _size += 1
        return true
      }
      if (cur == k) return false
      i = (i + 1) & mask
    }
    false
  }

  def addAll(other: LongHashSet): Unit = other.foreach(add(_))

  def foreach(f: Long => Unit): Unit = {
    var i = 0
    while (i < cap) {
      val k = keys(i)
      if (k != Empty) f(k)
      i += 1
    }
  }

  def subsetOf(other: LongHashSet): Boolean = {
    var i = 0
    while (i < cap) {
      val k = keys(i)
      if (k != Empty && !other.contains(k)) return false
      i += 1
    }
    true
  }

  def copy(): LongHashSet = {
    val c = new LongHashSet(1)
    c.cap = cap
    c.keys = keys.clone()
    c._size = _size
    c
  }

  private def grow(): Unit = {
    val old = keys
    cap = cap << 1
    keys = new Array[Long](cap)
    java.util.Arrays.fill(keys, Empty)
    _size = 0
    var i = 0
    while (i < old.length) {
      val k = old(i)
      if (k != Empty) add(k)
      i += 1
    }
  }
}
