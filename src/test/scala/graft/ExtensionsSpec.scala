package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL surface for the native expressions via SparkSessionExtensions. */
class ExtensionsSpec extends AnyFunSuite {

  // every graft session carries GraftExtensions
  lazy val spark: SparkSession = GraftSession.local(4, "extensions-spec")

  test("graft_fdot is SQL-callable and matches the Column API") {
    val r = spark
      .sql("SELECT graft_fdot(array(CAST(1.5 AS FLOAT), CAST(2.0 AS FLOAT)), array(CAST(2.0 AS FLOAT), CAST(0.5 AS FLOAT)))")
      .head()
      .getDouble(0)
    assert(r === 4.0)
  }

  test("graft_simhash64 is a SQL-callable aggregate matching the engine's signature") {
    val sql = spark
      .sql("""SELECT graft_simhash64(md5(t)) FROM VALUES ('alpha'), ('beta'), ('gamma') AS v(t)""")
      .head()
      .getLong(0)
    // independently computed: sum of ±1 per bit over the three md5 hexes
    val sums = new Array[Int](64)
    Seq("alpha", "beta", "gamma").foreach { t =>
      val hex = java.security.MessageDigest
        .getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
        .map("%02x".format(_))
        .mkString
      for (p <- 0 until 16; b <- 0 until 4) {
        val nib = Integer.parseInt(hex.charAt(p).toString, 16)
        sums(p * 4 + b) += (((nib >> b) & 1) << 1) - 1
      }
    }
    val expected = (0 until 64).map(j => if (sums(j) > 0) 1L << j else 0L).reduce(_ | _)
    assert(sql === expected)
  }

  test("graft_word_shingles and graft_distinct_tokens are SQL-callable") {
    val sh = spark
      .sql("SELECT graft_word_shingles('a b c d a b c d')")
      .head()
      .getSeq[String](0)
    assert(sh.contains("a b c") && sh.distinct === sh)
    val toks = spark.sql("SELECT graft_distinct_tokens('x y x z')").head().getSeq[String](0)
    assert(toks === Seq("x", "y", "z"))
  }

  test("graft_rolling_hash matches the fingerprint fold") {
    val h = spark.sql("SELECT graft_rolling_hash('ab')").head().getLong(0)
    // ((7*31 + 'a')*31 + 'b') % 1e9+7
    assert(h === ((7L * 31 + 'a'.toInt) * 31 + 'b'.toInt) % 1000000007L)
  }
}
