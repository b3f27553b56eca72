package graft.engine

import java.math.BigInteger
import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest
import java.util.Arrays

/** Test oracles for the reference's byte contract, computed without the
  * JVM's `String` order (UTF-16 code units) or the engine's own code.
  */
object Utf8Order {

  /** Unsigned byte order of the UTF-8 encodings: code point order, the
    * order of the reference's Python sort of whole lines.
    */
  val lines: Ordering[String] = (a, b) => Arrays.compareUnsigned(a.getBytes(UTF_8), b.getBytes(UTF_8))

  /** The reference partition function, `int(md5(utf8(key)), 16) % R`,
    * as a `BigInteger` over the digest.
    */
  def partition(key: String, numReducers: Int): Int =
    new BigInteger(1, MessageDigest.getInstance("MD5").digest(key.getBytes(UTF_8)))
      .mod(BigInteger.valueOf(numReducers.toLong))
      .intValue

  /** A part file's text lines: the key is the text before the first tab. */
  def key(line: String): String = {
    val t = line.indexOf('\t')
    if (t < 0) line else line.substring(0, t)
  }

  /** The bytes of R reference part files holding `lines`: each line in
    * the part its key's md5 picks, each part in code point order, every
    * line ended by `\n`.
    */
  def parts(lines: Seq[String], numReducers: Int): Seq[Array[Byte]] =
    (0 until numReducers).map { r =>
      lines.filter(l => partition(key(l), numReducers) == r).sorted(Utf8Order.lines)
        .map(_ + "\n").mkString.getBytes(UTF_8)
    }
}
