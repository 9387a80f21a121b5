package graft.functions

/** MD5 + hex helpers for the media content-hash kernels (r18, guide §1.2
  * per-task work). Two per-clip costs hoisted out of the hot loops:
  *
  *  - `MessageDigest.getInstance` walks the JCA provider list per call;
  *    digests are cheap to RESET but not to look up, so each task thread
  *    reuses one instance, lent out by [[withDigest]].
  *  - `"%02x".format(b)` builds a java.util.Formatter and parses the
  *    format string PER BYTE (16 allocations per 128-bit hash); the
  *    table-driven encoder below emits the identical lowercase hex.
  */
object Md5 {

  /** One MD5 instance per thread, plus whether it is lent out. */
  private final class Slot {
    val md: java.security.MessageDigest = java.security.MessageDigest.getInstance("MD5")
    var busy = false
  }

  private val tl = new ThreadLocal[Slot] {
    override def initialValue(): Slot = new Slot
  }

  /** Run `f` with this thread's MD5 instance, reset on entry, so a
    * previous borrower that threw between update() and digest() cannot
    * leave partial state behind. A nested borrow on the same thread
    * throws IllegalStateException: two hashes sharing one instance would
    * both come out silently wrong. `f` must not keep the instance. */
  def withDigest[A](f: java.security.MessageDigest => A): A = {
    val s = tl.get()
    if (s.busy) throw new IllegalStateException(
      "Md5.withDigest: nested borrow of this thread's digest would corrupt both hashes")
    s.busy = true
    try {
      s.md.reset()
      f(s.md)
    } finally s.busy = false
  }

  private val hexChars = "0123456789abcdef".toCharArray

  /** Lowercase hex of `bytes` — byte-identical to
    * `bytes.map("%02x".format(_)).mkString`. */
  def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xFF
      out(2 * i) = hexChars(b >>> 4)
      out(2 * i + 1) = hexChars(b & 0xF)
      i += 1
    }
    new String(out)
  }
}
