package graft.similarity

import graft.Tables
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al., 2011) — the memory-bounded ANN
  * serving path beside the LSH and IVF ones: the 64-dim embedding space
  * splits into `PqSubspaces` orthogonal subspaces, each with its own
  * `PqCodes`-entry codebook trained by the same deterministic Lloyd
  * recipe the IVF quantizer uses, and every corpus vector is stored as
  * `PqSubspaces` small code ids — 8 × 6-bit codes = 6 bytes against 256
  * bytes of floats, the compression that lets a 100 TB embedding corpus
  * serve from memory (production uses K=256 byte codes; K tracks the
  * corpus scale here so ~8 vectors share a code, the same ratio).
  * Serving is ADC + refine: lookup-table scoring over the codes ranks
  * the whole corpus, and only the top `PqRefine` candidates per query
  * touch raw vectors for the exact re-rank.
  *
  * Query-time scoring is ADC (asymmetric distance computation): the
  * query precomputes one lookup table of `PqSubspaces × PqCodes`
  * subvector dot products (tiny — broadcast), and each corpus vector's
  * approximate inner product is the sum of `PqSubspaces` table lookups
  * addressed by its codes. The corpus side of the scoring join carries
  * ONLY (vec_id, m, code) — never raw vectors — so the serving scan is
  * proportional to code bytes, not embedding bytes.
  *
  * Everything is oracle-replayable (see PipelineOracles.simPqAdc): the
  * codebook training reuses the IVF quantizer's bit-identical
  * arithmetic (stride-sample init; argmax assignment on
  * 2·⟨s,c⟩ − ⟨c,c⟩, the monotone L2 twin, ties to the lowest code id;
  * integer-pooled per-dimension means), and the ADC sum pivots the
  * per-subspace lookups into fixed columns so the per-subspace double
  * addition happens in one deterministic order on both engines.
  */
object Pq {

  val PqSubspaces = 8 // 8 × 8-dim subspaces of the 64-dim space
  val PqSubDim = 8
  val PqCodes = 64 // 64 codes/subspace → 6 bits each, 6 bytes/vector
  val PqStride = 7 // codebook init: subvectors of every 7th vector
  val PqLloydRounds = 2 // deterministic k-means refinement rounds
  val PqTopK = 3
  val PqRefine = 50 // ADC candidates re-ranked exactly per query

  /** (vec_id, m, sub): the corpus exploded into per-subspace views. */
  private[graft] def subvectors(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb
      .select(
        $"vec_id",
        explode(
          array((0 until PqSubspaces).map(m =>
            struct(lit(m).as("m"), slice($"embedding", m * PqSubDim + 1, PqSubDim).as("sub"))
          ): _*)
        ).as("ms")
      )
      .select($"vec_id", $"ms.m".as("m"), $"ms.sub".as("sub"))
  }

  /** Assignment score: 2·⟨sub,ce⟩ − ⟨ce,ce⟩ is argmax-equivalent to
    * argmin ‖sub−ce‖² (the ‖sub‖² term is constant per row) without
    * needing the row norm — one broadcast dot per (row, code).
    *
    * The argmax is a PURE MAP (the assignCells discipline): each
    * subspace's ≤PqCodes codebook rows collect into one broadcast
    * code-ascending array, and a single `aggregate` fold per subvector
    * row picks the best code in place — ascending-code iteration with
    * strictly-greater replacement is exactly the old
    * max(struct(score, -code)) tie rule (ties to the lowest code) on
    * identical doubles. The previous ×PqCodes join + groupBy(max(struct))
    * planned as SortAggregate (struct buffers cannot hash-aggregate),
    * sorting the whole exploded stream per Lloyd round / encode pass —
    * the r18 probes' fourth-decade build term. `keep` carries payload
    * columns (the Lloyd mean's sub) through the map, so no corpus join
    * back.
    */
  private def assignCodes(
      subv: DataFrame,
      cents: DataFrame,
      keep: Seq[String] = Nil
  ): DataFrame = {
    val spark = subv.sparkSession
    import spark.implicits._
    val byM = cents
      .withColumn("cc", dot($"ce", $"ce"))
      .groupBy($"m")
      .agg(array_sort(collect_list(struct($"code", $"ce", $"cc"))).as("cs"))
      .select(
        $"m",
        transform($"cs", c => c("code")).as("codes"),
        transform($"cs", c => c("ce")).as("ces"),
        transform($"cs", c => c("cc")).as("ccs")
      )
    subv
      .join(broadcast(byM), "m")
      .withColumn("bi", graft.functions.VectorExpressions.argBestPq($"ces", $"ccs", $"sub"))
      .filter($"bi" >= 0)
      .select(($"vec_id" +: $"m" +: element_at($"codes", $"bi" + 1).as("code") +: keep.map(col)): _*)
  }

  /** Trained per-subspace codebooks: `PqLloydRounds` deterministic Lloyd
    * iterations from a fixed stride-sample init, all subspaces trained
    * in one DataFrame (the subspace id is just another grouping key).
    * Arithmetic is the IVF quantizer's, verbatim: integer-pooled means
    * (floor(x·2²⁰ + 0.5) sums are associative → partition-order-free and
    * DuckDB-identical), ties to the lowest code id, codes that attract
    * no vectors vanish on both engines alike. Persisted: ≤ M·K = 512 rows
    * — the stored codebook artifact of a production PQ index.
    */
  private[graft] def pqCodebook(subv: DataFrame): DataFrame =
    pqCodebook(subv, PqStride, 0)

  /** `stride`/`offset` generalize the init so an append-index variant
    * can train on a SLICE whose ids must all satisfy the slice
    * predicate: with stride divisible by the slice modulus, the class
    * `vec_id ≡ offset (mod stride)` never leaves the slice.
    */
  private[graft] def pqCodebook(subv: DataFrame, stride: Int, offset: Int): DataFrame = {
    val spark = subv.sparkSession
    import spark.implicits._
    var cents = subv
      .filter(
        $"vec_id" % stride === offset &&
          $"vec_id" < offset.toLong + stride.toLong * PqCodes
      )
      .select($"m", floor(($"vec_id" - offset) / stride).cast("int").as("code"), $"sub".as("ce"))
    for (_ <- 1 to PqLloydRounds) {
      // assignment is the map-side argmax fold (assignCodes) with `sub`
      // KEPT in the row — the round's only shuffle is the
      // (m × code × dim)-group integer mean, fully hash-aggregable
      val assigned = assignCodes(subv, cents, keep = Seq("sub"))
        .select($"m", $"code", $"sub")
      cents = assigned
        .select($"m", $"code", posexplode($"sub").as(Seq("j", "x")))
        .groupBy($"m", $"code", $"j")
        .agg(
          sum(floor($"x".cast("double") * lit(Similarity.IvfMeanScale) + lit(0.5))).as("s"),
          count(lit(1)).as("cnt")
        )
        .select(
          $"m",
          $"code",
          $"j",
          (($"s".cast("double") / $"cnt".cast("double")) / lit(Similarity.IvfMeanScale))
            .cast("float")
            .as("cx")
        )
        .groupBy($"m", $"code")
        .agg(transform(array_sort(collect_list(struct($"j", $"cx"))), s => s("cx")).as("ce"))
      // the recurrence stays LAZY on purpose: round k's broadcast
      // re-executes rounds 1..k−1, but each round is now a cheap linear
      // map+mean (no SortAggregate), so at the fixed 2-round depth the
      // re-execution is bounded — while an eager per-round
      // localCheckpoint measured +2 s of job latency on every
      // in-session-trained serve (sim_ann_ivf 0.7 → 3.0 s at sf0.1)
    }
    cents.persist()
  }

  /** Corpus encoding: nearest code per (vector, subspace) — one broadcast
    * map pass with a map-side argmax, exactly the IVF cell assignment
    * shape. Output is the bytes-per-vector code table.
    */
  private[graft] def pqEncode(subv: DataFrame, cents: DataFrame): DataFrame =
    assignCodes(subv, cents)

  /** ADC candidate ranking: approximate max-inner-product score of every
    * corpus vector against each query (vec_id < NumQueries), from table
    * lookups over the code table. The per-subspace lookups pivot into
    * fixed columns (one non-null row per subspace, so the sums are
    * order-free) and add in one deterministic left-to-right expression —
    * bit-identical on both engines. Returns (query_id, vec_id, adc_dot,
    * rank) over the whole corpus.
    */
  /** The stored PQ index artifacts: the corpus code table (vec_id, m,
    * code) and the per-query broadcastable lookup table (query_id, m,
    * code, v). Shared by the full-corpus ADC scan and the IVF-bounded
    * one, so both serve off identical codebooks/encodings.
    */
  /** The DURABLE code-table pair — what "stored 6-byte codes" means
    * physically: the trained per-subspace codebooks and the corpus
    * code table are warehouse artifacts written once per content
    * fingerprint (the ivfIndexTable/ivfCellTable discipline). The
    * 512n-subvector-dot encoding pass belongs to the one-time build;
    * a serve reads codes from the catalog and computes only the
    * QUERY-side lookup table (queries × subspaces × codes dots).
    */
  private[graft] def pqCodebookTable(spark: SparkSession, dir: String): String = {
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val t = s"graft_pq_cents_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_pq_cents_"), Seq(t)) {
      val emb = Tables.embeddingsFanned(spark, dir).select(col("vec_id"), col("embedding"))
      pqCodebook(subvectors(emb))
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  private[graft] def pqCodeTable(spark: SparkSession, dir: String): String = {
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val t = s"graft_pq_codes_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_pq_codes_"), Seq(t)) {
      val emb = Tables.embeddingsFanned(spark, dir).select(col("vec_id"), col("embedding"))
      pqEncode(subvectors(emb), spark.table(pqCodebookTable(spark, dir)))
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  private def codesAndLut(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    val emb = Tables.embeddingsFanned(spark, dir).select($"vec_id", $"embedding")
    val cents = spark.table(pqCodebookTable(spark, dir))
    val codes = spark.table(pqCodeTable(spark, dir))
    val lut = subvectors(emb.filter($"vec_id" < Similarity.NumQueries))
      .join(broadcast(cents), "m")
      .select($"vec_id".as("query_id"), $"m", $"code", dot($"sub", $"ce").as("v"))
    (codes, lut)
  }

  private def adcSum = (0 until PqSubspaces).map(m => col(s"l$m")).reduce(_ + _)

  private def adcRanked(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (codes, lut) = codesAndLut(spark, dir)
    val cols = (0 until PqSubspaces).map(m => sum(when($"m" === m, $"v")).as(s"l$m"))
    val w = Window.partitionBy($"query_id").orderBy($"adc_dot".desc, $"vec_id")
    codes
      .join(broadcast(lut), Seq("m", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(cols.head, cols.tail: _*)
      .withColumn("adc_dot", adcSum)
      .filter($"vec_id" =!= $"query_id")
      .withColumn("rank", row_number().over(w))
  }

  /** PQ serving query — the canonical ADC + refine pipeline: the code
    * table ranks the WHOLE corpus from lookups alone, the top `PqRefine`
    * candidates per query are re-ranked with exact dots (a point-lookup
    * join touching `queries × PqRefine` raw vectors, never the corpus),
    * and the final top-k reports both scores. At 100 TB the expensive
    * scan reads 6-byte codes; raw embeddings are fetched for `PqRefine`
    * rows per query.
    */
  def adcTopK(spark: SparkSession, dir: String): DataFrame =
    adcTopK(spark, dir, PqRefine)

  /** `refine` is the recall/cost knob (the PQ twin of IVF's `probes`):
    * each extra candidate costs one exact-dot point lookup per query,
    * and recall is monotone in it — ApproxSpec pins the curve with
    * floors (refine 3/10/50 → recall 0.30/0.63/0.93 at sf0.01). At a
    * growing corpus with FIXED codebooks this is the knob that buys
    * recall back without re-encoding the stored codes.
    */
  def adcTopK(spark: SparkSession, dir: String, refine: Int): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddingsFanned(spark, dir).select($"vec_id", $"embedding")
    val cand = adcRanked(spark, dir).filter($"rank" <= refine)
    val queries = emb
      .filter($"vec_id" < Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val w = Window.partitionBy($"query_id").orderBy($"xdot".desc, $"vec_id")
    cand
      .join(broadcast(queries), "query_id")
      .join(emb, "vec_id")
      .withColumn("xdot", dot($"qe", $"embedding"))
      .withColumn("xrank", row_number().over(w))
      .filter($"xrank" <= PqTopK)
      .select(
        $"query_id",
        $"vec_id".as("neighbor_id"),
        $"xrank".as("rank"),
        round($"xdot", 6).as("dot"),
        round($"adc_dot", 6).as("adc_dot")
      )
      .orderBy($"query_id", $"rank")
  }

  // ---- incrementally-maintained PQ (codes appended, never re-trained) --

  /** Append-index init class: stride divisible by [[Similarity.IvfNewMod]]
    * keeps `vec_id ≡ 1 (mod 10)` entirely inside the base slice
    * (vec_id % 5 ≠ 0), so codebook training never sees a ticked vector.
    */
  val PqAppendStride = 10
  val PqAppendOffset = 1

  /** The incrementally-MAINTAINED PQ index triple (the code-table
    * analog of `sim_ivf_append`): per-subspace codebooks trained on the
    * BASE corpus only, the base code table, and the vector store
    * (vec_id, embedding) the exact-refine tail reads — so vectors
    * ingested after the build are first-class serve candidates without
    * any corpus-file join. Ticks encode arriving vectors against the
    * STORED codebooks — work ∝ batch, never a retrain.
    */
  private[graft] def pqAppendTables(spark: SparkSession, dir: String): (String, String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val ct = s"graft_pqa_cents_$fp"
    val kt = s"graft_pqa_codes_$fp"
    val vt = s"graft_pqa_vecs_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_pqa_cents_", "graft_pqa_codes_", "graft_pqa_vecs_"),
      Seq(ct, kt, vt)
    ) {
      val base = Tables
        .embeddingsFanned(spark, dir)
        .select($"vec_id", $"embedding")
        .filter($"vec_id" % Similarity.IvfNewMod =!= 0)
      val bsub = subvectors(base)
      pqCodebook(bsub, PqAppendStride, PqAppendOffset)
        .write.mode("overwrite").format("parquet").saveAsTable(ct)
      pqEncode(bsub, spark.table(ct))
        .write.mode("overwrite").format("parquet").saveAsTable(kt)
      base.write.mode("overwrite").format("parquet").saveAsTable(vt)
    }
    (ct, kt, vt)
  }

  /** The ingest tick: encode `batch` (vec_id, embedding) against the
    * STORED codebooks and append codes + vectors — the codebook table
    * is never touched (PqAppendSpec drives two ticks and pins it).
    */
  def pqAppendTick(
      spark: SparkSession,
      centTable: String,
      codeTable: String,
      vecTable: String,
      batch: DataFrame
  ): Unit = {
    pqEncode(subvectors(batch), spark.table(centTable))
      .write.mode("append").format("parquet").saveAsTable(codeTable)
    batch.write.mode("append").format("parquet").saveAsTable(vecTable)
  }

  /** Registered query `sim_pq_append`: ADC + exact refine served over
    * the incrementally-maintained code table — stored codes ∪ the
    * in-flight batch's encoding (anti-joined on already-ticked ids, so
    * a persisted tick is never re-encoded or double-counted), with the
    * exact-dot tail reading the maintained VECTOR STORE rather than
    * the corpus file — out-of-corpus arrivals are fully servable. No
    * Lloyd jobs, no corpus-wide encoding in the serving path: the
    * query-side work is the LUT (queries × subspaces × codes dots) and
    * the pending batch's encoding.
    */
  def adcTopKAppended(spark: SparkSession, dir: String): DataFrame = {
    val (codes, lut, queries, vecs) = adcAppendParts(spark, dir)
    adcServeFrom(codes, lut, queries, vecs)
  }

  /** Registered query `sim_pq_delete`: the maintained PQ index after
    * the delete commit — the SAME tombstone table `sim_ivf_delete`
    * honors ([[Similarity.ivfDvTable]]): a takedown list is a property
    * of the corpus, not of any one index, so every vector index applies
    * the one DV. Merge-on-read end to end: the kilobyte DV anti-joins
    * the code table BEFORE the ADC scan (victims' 6-byte codes are
    * never scored) and the vector store before the exact-refine tail;
    * codebooks, stored codes, and stored vectors are untouched. The
    * oracle is the sim_pq_append replay with victims excluded from the
    * scored set — one predicate of difference, which is the contract.
    */
  def adcTopKDeleted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (codes, lut, queries, vecs) = adcAppendParts(spark, dir)
    val dv = broadcast(spark.table(Similarity.ivfDvTable(spark, dir)))
    adcServeFrom(
      codes.join(dv, Seq("vec_id"), "left_anti"),
      lut,
      queries,
      vecs.join(dv, Seq("vec_id"), "left_anti")
    )
  }

  /** Registered query `stream_pq_takedown`: the PQ serve after the
    * SHARED vector-takedown queue drained through the stream
    * ([[Similarity.ivfStreamDvTable]] — ONE continuous tombstone feed
    * whose accumulated slices every vector index honors, exactly as the
    * one-shot delete family shares [[Similarity.ivfDvTable]]; a
    * takedown list is a property of the corpus, not of any one index).
    * Identical output (and oracle) to [[adcTopKDeleted]]: the unioned
    * slices are the same victim set, anti-joined before the ADC scan
    * (victims' codes never scored) and before the exact-refine tail.
    * Codebooks, stored codes, and stored vectors are untouched by any
    * number of streamed commits — PqAppendSpec pins it.
    */
  def adcTopKStreamDeleted(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val (codes, lut, queries, vecs) = adcAppendParts(spark, dir)
    val dv = broadcast(spark.table(Similarity.ivfStreamDvTable(spark, dir)))
    adcServeFrom(
      codes.join(dv, Seq("vec_id"), "left_anti"),
      lut,
      queries,
      vecs.join(dv, Seq("vec_id"), "left_anti")
    )
  }

  /** Spec ledger: (non-empty micro-batches, code rows) of the last
    * streaming PQ-index build in this JVM.
    */
  private[graft] val lastStreamPq =
    new java.util.concurrent.atomic.AtomicReference[(Int, Long)]((0, 0L))

  /** The STREAM-maintained PQ index — the last cell of the streaming
    * column: with this, every maintained index family (minhash, IVF,
    * PQ, lexical, layout, MV) has a continuous write path. Division of
    * labor mirrors `stream_ivf_ingest`: the per-subspace codebooks are
    * the OFFLINE trainer's (the append family's table, copied narrow —
    * streaming never runs a Lloyd job), and foreachBatch runs
    * [[pqAppendTick]] verbatim per micro-batch — encode the batch
    * against stored codebooks (8 code rows per vector), append codes +
    * vectors. Per-trigger cost ∝ batch at any corpus size; checkpoint
    * per-build for the established resume-safety reason.
    */
  private[graft] def pqStreamTables(spark: SparkSession, dir: String): (String, String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val ct = s"graft_pqs_cents_$fp"
    val kt = s"graft_pqs_codes_$fp"
    val vt = s"graft_pqs_vecs_$fp"
    // codes/vector tables are created by the first micro-batch: guard
    // on a drain-complete sentinel (Warehouse.writeDoneSentinel)
    val done = s"graft_pqs_done_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_pqs_cents_", "graft_pqs_codes_", "graft_pqs_vecs_", "graft_pqs_done_"),
      Seq(ct, kt, vt, done)
    ) {
      val (act, _, _) = pqAppendTables(spark, dir)
      val frag = graft.Warehouse.tmpDirOnce("graft_pqsrc_", fp) { path =>
        Tables
          .embeddingsFanned(spark, dir)
          .select($"vec_id", $"embedding")
          .repartition(6)
          .write
          .mode("overwrite")
          .parquet(path)
      }
      Seq(ct, kt, vt).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.table(act).write.mode("overwrite").format("parquet").saveAsTable(ct)
      val batches = graft.streaming.StreamDrain.drainTicks(spark, frag, "graft_pqchk_") {
        df => pqAppendTick(spark, ct, kt, vt, df)
      }
      lastStreamPq.set((batches, spark.table(kt).count()))
      graft.Warehouse.writeDoneSentinel(spark, done)
      ()
    }
    (ct, kt, vt)
  }

  /** Registered query `stream_pq_ingest`: ADC + exact refine served
    * from the STREAM-maintained PQ index — identical ranking (and
    * oracle) to sim_pq_append, proving the continuous write path
    * encoded exactly the corpus it drained against exactly the
    * offline-trained codebooks; the serve is the same catalog-only
    * codes + vector-store read.
    */
  def adcTopKStreamed(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (ct, kt, vt) = pqStreamTables(spark, dir)
    val cents = spark.table(ct)
    val emb = Tables.embeddingsFanned(spark, dir).select($"vec_id", $"embedding")
    val queries = emb
      .filter($"vec_id" < Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    adcServeFrom(spark.table(kt), queryLut(emb, cents), queries, spark.table(vt))
  }

  /** COMPACTION — the fourth lifecycle verb, PQ edition, completing the
    * compact column across every serving-index family (bm25, IVF,
    * signature, layout already have theirs). The MoR delete serve pays
    * two DV anti-joins per query (codes before ADC, vectors before
    * refine) plus the pending-tick encode; compaction pays that debt
    * ONCE: the live 6-byte code rows and the live vector-store rows
    * are each rewritten in a single narrow pass (no re-encode, no
    * codebook work, no corpus scan — survivors ride through verbatim,
    * spec-pinned), and the compacted serve is back to a fresh build's
    * two-table scan with no DV probe anywhere. Codebooks are shared
    * with the append family, untouched.
    */
  private[graft] def pqCompactTables(spark: SparkSession, dir: String): (String, String) = {
    import org.apache.spark.sql.functions.broadcast
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val kt = s"graft_pqcmp_codes_$fp"
    val vt = s"graft_pqcmp_vecs_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_pqcmp_codes_", "graft_pqcmp_vecs_"),
      Seq(kt, vt)
    ) {
      val (codes, _, _, vecs) = adcAppendParts(spark, dir)
      val dv = broadcast(spark.table(Similarity.ivfDvTable(spark, dir)))
      codes
        .join(dv, Seq("vec_id"), "left_anti")
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(kt)
      vecs
        .join(dv, Seq("vec_id"), "left_anti")
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(vt)
    }
    (kt, vt)
  }

  /** Registered query `sim_pq_compact`: ADC + exact refine from the
    * COMPACTED code and vector tables — identical output (and oracle)
    * to [[adcTopKDeleted]], because live codes ∖ DV and live vectors ∖
    * DV are exactly what the MoR serve derives per query; compaction
    * just materializes them. The serve plan reads two catalog tables
    * and the shared codebooks: no anti-join, no pending-tick encode,
    * no corpus file anywhere. PqAppendSpec pins row-level survivor
    * preservation and serve equality.
    */
  def adcTopKCompacted(spark: SparkSession, dir: String): DataFrame = {
    val (kt, vt) = pqCompactTables(spark, dir)
    val (_, lut, queries, _) = adcAppendParts(spark, dir)
    adcServeFrom(spark.table(kt), lut, queries, spark.table(vt))
  }

  /** The maintained index's serve inputs: stored codes ∪ the in-flight
    * batch's encoding (anti-joined on already-ticked ids), the
    * query-side LUT off the stored codebooks, and the maintained
    * vector store ∪ the in-flight batch.
    */
  private[graft] def adcAppendParts(
      spark: SparkSession,
      dir: String
  ): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val (ct, kt, vt) = pqAppendTables(spark, dir)
    val cents = spark.table(ct)
    val emb = Tables.embeddingsFanned(spark, dir).select($"vec_id", $"embedding")
    val stored = spark.table(kt)
    val tickedIds = stored
      .filter($"vec_id" % Similarity.IvfNewMod === 0)
      .select($"vec_id")
      .distinct()
    val pending = emb
      .filter($"vec_id" % Similarity.IvfNewMod === 0)
      .join(tickedIds, Seq("vec_id"), "left_anti")
    val codes = stored.unionByName(pqEncode(subvectors(pending), cents))
    val vecs = spark.table(vt).unionByName(pending)
    val lut = queryLut(emb, cents)
    val queries = emb
      .filter($"vec_id" < Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    (codes, lut, queries, vecs)
  }

  private[graft] def queryLut(emb: DataFrame, cents: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    subvectors(emb.filter($"vec_id" < Similarity.NumQueries))
      .join(broadcast(cents), "m")
      .select($"vec_id".as("query_id"), $"m", $"code", dot($"sub", $"ce").as("v"))
  }

  /** ADC ranking + exact refine over EXPLICIT artifact frames — the
    * refine tail reads `vecs` (the maintained vector store), never the
    * corpus file, so ingested out-of-corpus vectors are servable.
    */
  private[graft] def adcServeFrom(
      codes: DataFrame,
      lut: DataFrame,
      queries: DataFrame,
      vecs: DataFrame
  ): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val cols = (0 until PqSubspaces).map(m => sum(when($"m" === m, $"v")).as(s"l$m"))
    val w = Window.partitionBy($"query_id").orderBy($"adc_dot".desc, $"vec_id")
    val cand = codes
      .join(broadcast(lut), Seq("m", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(cols.head, cols.tail: _*)
      .withColumn("adc_dot", adcSum)
      .filter($"vec_id" =!= $"query_id")
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= PqRefine)
    val wx = Window.partitionBy($"query_id").orderBy($"xdot".desc, $"vec_id")
    cand
      .join(broadcast(queries), "query_id")
      .join(vecs, "vec_id")
      .withColumn("xdot", dot($"qe", $"embedding"))
      .withColumn("xrank", row_number().over(wx))
      .filter($"xrank" <= PqTopK)
      .select(
        $"query_id",
        $"vec_id".as("neighbor_id"),
        $"xrank".as("rank"),
        round($"xdot", 6).as("dot"),
        round($"adc_dot", 6).as("adc_dot")
      )
      .orderBy($"query_id", $"rank")
  }

  /** PQ QA gate (the ADC twin of dedup_lsh_recall): recall@k of the ADC
    * ranking against the exact max-inner-product top-k, as one audited
    * row. Exact truth ranks by the same raw dot the ADC approximates, so
    * the gate isolates quantization loss from metric choice.
    */
  def adcRecall(spark: SparkSession, dir: String): DataFrame =
    adcRecall(spark, dir, PqRefine)

  /** IVF-PQ — the composed production ANN index (the FAISS IVFPQ shape,
    * Jégou et al. 2011 §V, here without residual encoding): the IVF
    * coarse quantizer bounds WHICH vectors get scored and PQ bounds the
    * BYTES the scoring scan reads, and the two scale mechanisms
    * multiply. Per query the ADC pass touches `probes/cells` of the
    * corpus (the probed inverted lists) at 6 bytes/vector instead of
    * 256 — the combination that lets a 100 TB embedding corpus serve
    * interactively: the full-corpus `sim_pq_adc` scan is the
    * memory-bound fallback, this is the latency path.
    *
    * Plumbing: serving reads the PERSISTED index artifacts from the
    * catalog — the trained centroids (`ivfIndexTable`), the full-corpus
    * posting table (`ivfCellTable`), the subspace codebooks and the
    * 6-byte code table (`pqCodebookTable`/`pqCodeTable`) — and computes
    * only the query-side probes and LUT. Candidates = vectors whose cell is
    * probed (equi-join on cell id against the broadcast probe set);
    * only their code rows join the broadcast LUT; the top `PqRefine`
    * per query get exact-dot refinement, exactly the `sim_pq_adc`
    * tail. Output adds the probed-candidate count per query so the
    * bounded scan is visible in the result itself.
    */
  def ivfPqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (refined, nCand) = ivfPqChain(spark, dir)
    refined
      .filter($"xrank" <= PqTopK)
      .join(nCand, "query_id")
      .select(
        $"query_id",
        $"vec_id".as("neighbor_id"),
        $"xrank".as("rank"),
        round($"xdot", 6).as("dot"),
        round($"adc_dot", 6).as("adc_dot"),
        $"n_probed"
      )
      .orderBy($"query_id", $"rank")
  }

  /** The IVF-PQ serving list at arbitrary depth `k ≤ PqRefine` for one
    * query — the retrieval source `sim_hybrid_rerank_pq` fuses. Same
    * chain as [[ivfPqTopK]] (probed cells → ADC over stored codes →
    * exact-dot refine of the top `PqRefine`), just cut at a deeper
    * rank, so the hybrid path inherits the bounded-scan cost shape
    * unchanged: probes bound WHICH vectors are ADC-scored, codes bound
    * the BYTES scored, and only `PqRefine` rows per query ever touch
    * raw vectors regardless of `k`.
    */
  def ivfPqNeighbors(spark: SparkSession, dir: String, queryId: Long, k: Int): DataFrame = {
    import spark.implicits._
    require(k <= PqRefine, s"list depth $k exceeds the exact-refined pool $PqRefine")
    ivfPqChain(spark, dir)._1
      .filter($"query_id" === queryId && $"xrank" <= k)
      .select($"vec_id".as("doc_id"), $"xrank".cast("long").as("sem_rank"))
  }

  /** Registered query `sim_ivf_pq_delete`: the composed IVF-PQ serve
    * AFTER a takedown commit — the DV story on the index a 100 TB
    * deployment actually serves from. The flat-ADC delete
    * (`sim_pq_delete`) pays its anti-joins against ALL code rows
    * (linear in code count by design); here the shared corpus DV
    * ([[Similarity.ivfDvTable]] — the same kilobyte victim table the
    * IVF and PQ delete serves consume) applies as ONE broadcast
    * anti-join on the PROBED posting lists, before any code row is
    * ADC-scored: per query the delete costs a probe-bounded probe-set
    * filter, not a corpus pass. Probes bound WHICH vectors are scored,
    * codes bound the BYTES scored, the DV bounds them to the LIVE set —
    * all three scale mechanisms compose in one plan (spec-pinned:
    * probes + DV anti-join + ADC + refine; victims absent at any
    * rank).
    */
  def ivfPqTopKDeleted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val dv = spark.table(Similarity.ivfDvTable(spark, dir))
    val (refined, nCand) = ivfPqChain(spark, dir, dv = Some(dv))
    refined
      .filter($"xrank" <= PqTopK)
      .join(nCand, "query_id")
      .select(
        $"query_id",
        $"vec_id".as("neighbor_id"),
        $"xrank".as("rank"),
        round($"xdot", 6).as("dot"),
        round($"adc_dot", 6).as("adc_dot"),
        $"n_probed"
      )
      .orderBy($"query_id", $"rank")
  }

  /** Shared IVF-PQ chain: (exact-refined ranking over the top
    * `PqRefine` ADC candidates per query, probed-candidate counts).
    * `dv`: victim ids applied as one broadcast anti-join on the probed
    * candidate lists — BEFORE the ADC scan, so deleted vectors never
    * cost a code lookup (n_probed counts live candidates).
    */
  private def ivfPqChain(
      spark: SparkSession,
      dir: String,
      dv: Option[DataFrame] = None
  ): (DataFrame, DataFrame) = {
    import spark.implicits._
    val emb = Tables.embeddingsFanned(spark, dir).select($"vec_id", $"embedding")
    val embN = emb.withColumn("nrm", norm($"embedding"))
    // serving reads the two persisted index artifacts — the trained
    // centroids and the full-corpus posting table — from the catalog;
    // the 256×n-dot assignment pass belongs to the one-time build
    // (ivfCellTable), never the query path. Only the QUERY rows score
    // against the centroid table here (queries × cells dots).
    val cents = spark.table(Similarity.ivfIndexTable(spark, dir))
    val cell = spark.table(Similarity.ivfCellTable(spark, dir))
    val wProbe = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    val qprobe = embN
      .filter($"vec_id" < Similarity.NumQueries)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", dot($"embedding", $"ce") / ($"nrm" * $"cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= Similarity.IvfProbes)
      .select($"vec_id".as("query_id"), $"cid")
    val cand0 = cell
      .join(broadcast(qprobe), "cid")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
    val cand = dv.fold(cand0)(d => cand0.join(broadcast(d), Seq("vec_id"), "left_anti"))
    val (codes, lut) = codesAndLut(spark, dir)
    val cols = (0 until PqSubspaces).map(m => sum(when($"m" === m, $"v")).as(s"l$m"))
    val wA = Window.partitionBy($"query_id").orderBy($"adc_dot".desc, $"vec_id")
    val ranked = cand
      .join(codes, "vec_id")
      .join(broadcast(lut), Seq("query_id", "m", "code"))
      .groupBy($"query_id", $"vec_id")
      .agg(cols.head, cols.tail: _*)
      .withColumn("adc_dot", adcSum)
      .withColumn("rank", row_number().over(wA))
    val nCand = cand.groupBy($"query_id").agg(count(lit(1)).as("n_probed"))
    val queries = emb
      .filter($"vec_id" < Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val wX = Window.partitionBy($"query_id").orderBy($"xdot".desc, $"vec_id")
    val refined = ranked
      .filter($"rank" <= PqRefine)
      .join(broadcast(queries), "query_id")
      .join(emb, "vec_id")
      .withColumn("xdot", dot($"qe", $"embedding"))
      .withColumn("xrank", row_number().over(wX))
    (refined, nCand)
  }

  def adcRecall(spark: SparkSession, dir: String, refine: Int): DataFrame = {
    import spark.implicits._
    val emb = Tables.embeddingsFanned(spark, dir).select($"vec_id", $"embedding")
    val queries = emb
      .filter($"vec_id" < Similarity.NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"))
    val wx = Window.partitionBy($"query_id").orderBy($"xdot".desc, $"vec_id")
    val exact = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .withColumn("xdot", dot($"qe", $"embedding"))
      .withColumn("xrank", row_number().over(wx))
      .filter($"xrank" <= PqTopK)
      .select($"query_id", $"vec_id")
    val approx = adcTopK(spark, dir, refine).select($"query_id", $"neighbor_id".as("vec_id"))
    // one full-outer join + one 1-row aggregate: the exact truth (the
    // expensive brute-force side) and the ADC ranking each compute ONCE,
    // vs twice in the count/semi-join formulation (column pruning
    // specializes the subtrees, so exchange reuse can't dedupe them)
    exact
      .select($"query_id", $"vec_id", lit(1L).as("e"))
      .join(approx.select($"query_id", $"vec_id", lit(1L).as("a")), Seq("query_id", "vec_id"), "full_outer")
      .agg(
        count($"e").as("n_exact"),
        count(when($"e".isNotNull && $"a".isNotNull, 1)).as("n_hits")
      )
      .select(
        $"n_exact",
        $"n_hits",
        round($"n_hits".cast("double") / $"n_exact".cast("double"), 6).as("recall")
      )
  }
}
