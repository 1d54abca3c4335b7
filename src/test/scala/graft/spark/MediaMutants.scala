package graft.spark

import java.nio.{ByteBuffer, ByteOrder}

/** Malformed-input mutants of a media payload for the decoder sweeps, and a
  * bounded runner that turns a hang into a test failure. */
object MediaMutants {
  val values: Seq[Int] = Seq(0x00, 0x01, 0x02, 0x0f, 0x3f, 0x7f, 0x80, 0xfe, 0xff)

  /** every truncation, the nine `values` at every offset and every
    * single-bit flip of `good`. */
  def apply(good: Array[Byte]): Seq[Array[Byte]] = {
    def set(i: Int, v: Int): Array[Byte] = { val b = good.clone(); b(i) = v.toByte; b }
    good.indices.map(java.util.Arrays.copyOf(good, _)) ++
      (for (i <- good.indices; v <- values) yield set(i, v)) ++
      (for (i <- good.indices; bit <- 0 until 8) yield set(i, good(i) ^ (1 << bit)))
  }

  /** each 4-byte length field at `offsets` set to 0x7FFFFFF0, 0x7FFFFFFF
    * and 0xFFFFFFFF in byte `order`. */
  def lengths(good: Array[Byte], offsets: Seq[Int], order: ByteOrder): Seq[Array[Byte]] =
    for (off <- offsets; v <- Seq(0x7FFFFFF0, 0x7FFFFFFF, 0xFFFFFFFF)) yield {
      val b = good.clone()
      ByteBuffer.wrap(b).order(order).putInt(off, v)
      b
    }

  /** `f` on a daemon thread joined for at most `seconds`: its result, or
    * what it threw; a call still running then throws an AssertionError
    * naming `what` (the thread is left to the JVM's exit). */
  def within[T](seconds: Int, what: => String)(f: => T): T = {
    @volatile var result: Either[Throwable, T] = null
    val t = new Thread(() => result = try Right(f) catch { case e: Throwable => Left(e) })
    t.setDaemon(true)
    t.start()
    t.join(seconds * 1000L)
    if (t.isAlive) throw new AssertionError(s"$what still running after $seconds s")
    result.fold(throw _, identity)
  }
}
