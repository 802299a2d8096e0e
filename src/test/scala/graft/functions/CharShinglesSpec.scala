package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The one-walk [[ShingleKernels.charShingles]] against the per-window
  * `substringSQL` loop it replaced: identical arrays, order included. */
class CharShinglesSpec extends AnyFunSuite {

  /** The replaced kernel, verbatim. */
  private def bySubstring(lt: UTF8String, n: Int): ArrayData = {
    val len = lt.numChars()
    if (len < n) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 1
    while (i <= len - n + 1) {
      seen.add(lt.substringSQL(i, n))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[Any]])
  }

  private def strings(a: ArrayData): Seq[String] =
    (0 until a.numElements()).map(a.getUTF8String(_).toString)

  private def same(s: String, n: Int): Unit = {
    val u = UTF8String.fromString(s)
    val got = strings(ShingleKernels.charShingles(u, n))
    assert(got == strings(bySubstring(u, n)), s"n=$n on '$s'")
  }

  test("ASCII text, repeated windows deduplicated in first-occurrence order") {
    val text = "the quick brown fox jumps over the lazy dog, the quick end"
    (1 to 8).foreach(same(text, _))
    same("aaaaaa", 2)
    assert(strings(ShingleKernels.charShingles(UTF8String.fromString("abab"), 2)) ==
      Seq("ab", "ba"))
  }

  test("multi-byte text: 2-, 3- and 4-byte characters") {
    val text = "naïve café — 東京タワー 🙂🙂 ünï 🚀x"
    (1 to 6).foreach(same(text, _))
    assert(strings(ShingleKernels.charShingles(UTF8String.fromString("é東🙂"), 2)) ==
      Seq("é東", "東🙂"))
  }

  test("n longer than the text, n equal to it, and empty input") {
    same("abc", 4)
    same("abc", 3)
    same("東🙂", 3)
    same("", 1)
    assert(ShingleKernels.charShingles(UTF8String.fromString(""), 3).numElements() == 0)
  }

  test("windows stay valid after the input's buffer is overwritten") {
    val buf = "hello world".getBytes("UTF-8")
    val got = ShingleKernels.charShingles(UTF8String.fromBytes(buf), 3)
    java.util.Arrays.fill(buf, 'z'.toByte)
    assert(strings(got).head == "hel")
  }

  test("a seeded mix of random strings agrees for every width") {
    val rnd = new scala.util.Random(62L)
    val alphabet = "ab é東🙂".codePoints().toArray
    (0 until 300).foreach { _ =>
      val sb = new java.lang.StringBuilder
      (0 until rnd.nextInt(25)).foreach(_ => sb.appendCodePoint(alphabet(rnd.nextInt(alphabet.length))))
      val s = sb.toString
      same(s, 1 + rnd.nextInt(5))
    }
  }
}
