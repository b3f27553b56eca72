package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Engine-portable building blocks: every helper here has an exact DuckDB
  * SQL twin (emitted by graft.oracle.PipelineOracles) producing
  * bit-identical values, so approximate/algorithmic operators (minhash,
  * simhash, LSH, cosine) can be oracle-checked EXACTLY rather than
  * rows-only:
  *
  *  - hashes derive from md5 hex (both engines agree byte-for-byte);
  *  - vector math accumulates doubles left-to-right (Spark `aggregate`
  *    left-fold == DuckDB `list_reduce`), and float→double widening is
  *    exact, so dot/norm/cosine come out bit-identical;
  *  - all "random" constants (LSH hyperplanes) are deterministic Scala
  *    values baked as literals into both sides.
  */
object Portable {

  /** Tokens of a document: lowercase, split on space/tab, empties kept
    * (reference word-count tokenizer, FIXTURES.md §A invariants).
    */
  def tokens(text: Column): Column = split(lower(text), "[ \t]", -1)

  /** Distinct word w-shingles ("a b c" strings) of a token array. */
  def shingles(toks: Column, w: Int = 3): Column =
    array_distinct(
      when(
        size(toks) >= w,
        transform(
          sequence(lit(0), size(toks) - w),
          i => concat_ws(" ", (0 until w).map(o => element_at(toks, i + o + 1)): _*)
        )
      ).otherwise(array().cast("array<string>"))
    )

  /** Left-fold dot product of two float arrays in double precision —
    * native codegen'd expression (graft.functions.FloatDotProduct).
    * DuckDB twin: list_reduce(list_prepend(CAST(0 AS DOUBLE),
    * list_transform(generate_series(1,len(a)), i -> CAST(a[i] AS DOUBLE) *
    * CAST(b[i] AS DOUBLE))), (acc,x) -> acc+x) — both are
    * acc := acc + (double)a[i]·(double)b[i] ascending, so bit-identical.
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.fdot(a, b)

  /** Dot product against a constant vector (LSH hyperplane), same
    * accumulation order as `dot`. DuckDB twin inlines the same literals.
    */
  def dotConst(a: Column, consts: Array[Double]): Column =
    VectorExpressions.fdotConst(a, consts)

  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Deterministic pseudo-random doubles in [-1, 1): splitmix64 over
    * (plane, dim), quantized to k/2^20 so the decimal literal in the
    * oracle SQL round-trips exactly.
    */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long = 42L): Array[Array[Double]] =
    Array.tabulate(nPlanes, dim) { (p, d) =>
      var z = seed + 0x9e3779b97f4a7c15L * (p.toLong * 1024 + d + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z = z ^ (z >>> 31)
      // 20-bit mantissa → exact decimal literal with 7 digits
      ((z >>> 44).toDouble / (1 << 19).toDouble) - 1.0
    }

  /** LSH bit-signature of a float-array column against `planes`:
    * bit p set iff dot(v, plane_p) > 0 (per-plane dots are the same
    * left-fold as `dotConst`). Returns a long (supports up to 64 planes —
    * the 64th lands on the sign bit). Native single expression
    * (VectorExpressions.LshSignature): one codegen loop instead of a
    * 64-term CASE chain that would fall out of whole-stage codegen.
    */
  def lshSignature(v: Column, planes: Array[Array[Double]]): Column =
    VectorExpressions.lshSig(v, planes)

  /** Global rank 1..K over a frame ALREADY bounded to K rows (post
    * `orderBy(...).limit(K)`, or a join of two such lists) — WITHOUT a
    * window: the K rows aggregate to ONE sorted array (the numeric
    * rank key negated for descending order, ties broken by the
    * ascending key) and posexplode re-emits them with their position.
    * Cost is a 1-row aggregate over K rows; no WindowExec appears in
    * the plan at all, so the "No Partition Defined" warning stays
    * SIGNAL at every real site (an unpartitioned window over an
    * UNBOUNDED frame is the scale bug that warning exists to catch —
    * and a constant partition key wouldn't help: Spark 4's
    * EliminateWindowPartitions strips foldable keys, restoring the
    * empty spec).
    *
    * `descNum` must be numeric non-null (negation-ordered) and
    * (`descNum`, `asc`) must be a total order — true at every call
    * site: the asc key is the unique id the original orderBy already
    * tie-broke on.
    */
  def withRankLimited(
      df: org.apache.spark.sql.DataFrame,
      rankName: String,
      descNum: Column,
      asc: Column
  ): org.apache.spark.sql.DataFrame = {
    val cols = df.columns.toSeq
    df.select(
      struct((-descNum).as("_d"), asc.as("_a"), struct(cols.map(col): _*).as("_r")).as("_s")
    )
      .agg(sort_array(collect_list(col("_s"))).as("_xs"))
      .select(posexplode(col("_xs")).as(Seq("_i", "_s")))
      .select((cols.map(c => col(s"_s._r.$c")) :+ (col("_i") + 1).cast("long").as(rankName)): _*)
  }
}
