package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** The thread-owned MD5 borrow: hashes match a fresh JCA instance, and a
  * nested borrow on one thread fails loudly instead of corrupting both. */
class Md5Spec extends AnyFunSuite {

  private def md5(bytes: Array[Byte]): String =
    Md5.withDigest { md => md.update(bytes); Md5.hex(md.digest()) }

  test("withDigest hashes like a fresh MessageDigest, also after a borrower threw mid-update") {
    val abc = "abc".getBytes("US-ASCII")
    assert(md5(abc) == "900150983cd24fb0d6963f7d28e17f72") // RFC 1321 test suite
    intercept[RuntimeException] {
      Md5.withDigest { md => md.update(Array[Byte](1, 2, 3)); throw new RuntimeException("torn") }
    }
    assert(md5(abc) == "900150983cd24fb0d6963f7d28e17f72",
      "partial state from a borrower that threw must not leak into the next hash")
  }

  test("a nested borrow on one thread throws; the outer borrow still hashes right") {
    val img = new java.awt.image.BufferedImage(2, 2, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val free = graft.operators.ImageDedup.pixelHash(img)
    val outer = Md5.withDigest { md =>
      md.update("abc".getBytes("US-ASCII"))
      val e = intercept[IllegalStateException](graft.operators.ImageDedup.pixelHash(img))
      assert(e.getMessage.contains("nested"), e.getMessage)
      Md5.hex(md.digest())
    }
    assert(outer == "900150983cd24fb0d6963f7d28e17f72")
    assert(graft.operators.ImageDedup.pixelHash(img) == free,
      "the slot is free again after the nested attempt")
    // other threads own their own instance: no false positive across threads
    val other = Md5.withDigest { _ =>
      val f = java.util.concurrent.CompletableFuture.supplyAsync(() => md5("abc".getBytes("US-ASCII")))
      f.get()
    }
    assert(other == "900150983cd24fb0d6963f7d28e17f72")
  }
}
