package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import scala.util.Random

/** Property-style tests for the reference partition function: range,
  * stability, equivalence with an independent formulation, and rough
  * balance (the property that makes md5 partitioning safe at any R).
  */
class PartitionPropertySpec extends AnyFunSuite {

  private def randomKey(rnd: Random): String = {
    val n = rnd.nextInt(24)
    new String(Array.fill(n)((32 + rnd.nextInt(95)).toChar)) // printable ASCII incl. space
  }

  test("partition is always in [0, R) and stable across calls") {
    val rnd = new Random(1)
    (1 to 1000).foreach { _ =>
      val key = randomKey(rnd)
      val r = 1 + rnd.nextInt(64)
      val p = MapReduce.md5Partition(key, r)
      assert(p >= 0 && p < r, s"key=$key r=$r p=$p")
      assert(p === MapReduce.md5Partition(key, r))
    }
  }

  test("equivalent to hex-string md5 interpretation (reference formula)") {
    val rnd = new Random(2)
    // small R, plus R large enough that a byte-wise reduction mod R could
    // overflow if done carelessly (256·R > 2^31 from R = 2^23 up)
    val bigR = Seq(255, 256, 65537, 1 << 24, Int.MaxValue)
    // non-ASCII keys: 2-, 3- and 4-byte UTF-8 sequences and NUL
    val nonAscii = Seq("é", "ß", "漢字", "Ωμέγα", "😀", "\u0000")
    def unicodeKey(): String = randomKey(rnd) + nonAscii(rnd.nextInt(nonAscii.size)) + randomKey(rnd)
    val cases = (1 to 500).map(_ => (randomKey(rnd), 1 + rnd.nextInt(16))) ++
      (1 to 500).flatMap { i =>
        val key = if (i % 2 == 0) unicodeKey() else randomKey(rnd)
        bigR.map(r => (key, r))
      }
    cases.foreach { case (key, r) =>
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(key.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      val expected = new java.math.BigInteger(hex, 16)
        .mod(java.math.BigInteger.valueOf(r.toLong))
        .intValue
      assert(MapReduce.md5Partition(key, r) === expected)
    }
  }

  test("Md5KeyPartitioner treats (key, value) tuples and bare keys identically") {
    val rnd = new Random(3)
    val part = new MapReduce.Md5KeyPartitioner(8)
    (1 to 300).foreach { _ =>
      val key = randomKey(rnd) + (if (rnd.nextBoolean()) "é😀" else "")
      val value = randomKey(rnd)
      val p = part.getPartition(key)
      assert(p === part.getPartition((key, value)))
      // the engine's shuffle lines route by the bytes before the first tab
      assert(p === part.getPartition(s"$key\t$value\tmore".getBytes(UTF_8)))
      assert(p === part.getPartition(key.getBytes(UTF_8)))
    }
  }

  test("partitions are roughly balanced over distinct keys") {
    val rnd = new Random(4)
    val r = 8
    val counts = Array.fill(r)(0)
    val n = 8000
    // distinct keys — duplicates (e.g. the empty string at 1/24 frequency
    // from randomKey) all land in one bucket by definition, which tests
    // the corpus, not the hash
    (1 to n).foreach { i => counts(MapReduce.md5Partition(s"key-$i-${rnd.nextLong()}", r)) += 1 }
    val expected = n / r
    counts.zipWithIndex.foreach { case (c, i) =>
      assert(math.abs(c - expected) < expected * 0.15, s"partition $i: $c vs $expected")
    }
  }
}
