package graft

/** Heap bytes the calling thread allocates while running a block, so a
  * spec can show a decoder refused a declared raster without building
  * it.
  */
object Allocated {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def by[T](f: => T): (T, Long) = {
    val before = mx.getCurrentThreadAllocatedBytes
    val r = f
    (r, mx.getCurrentThreadAllocatedBytes - before)
  }

  /** A decompression bomb's header must not cost more than this. */
  val BombBudget: Long = 64L << 20
}
