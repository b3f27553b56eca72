package graft.similarity

import graft.Tables
import graft.dedup.Dedup
import graft.functions.Portable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over the `embeddings` table
  * (Array[Float] column). Two paths:
  *
  *  - brute-force cosine top-k: the exact baseline. The query set is tiny
  *    (broadcast) so the "cross join" is really a broadcast-map over the
  *    corpus: one scan, no shuffle of the corpus, then a per-query top-k
  *    (TakeOrdered-style) — this shape survives 100 TB corpora as long as
  *    the query set stays broadcastable;
  *  - LSH-bucketed ANN: random-hyperplane signatures, candidates from
  *    shared 4-bit bands, exact cosine re-rank inside buckets. Corpus
  *    side shuffles only (band, bucket, id) triples.
  *
  * Cosine values are bit-identical to the DuckDB oracle (left-fold double
  * accumulation — see graft.functions.Portable).
  */
object Similarity {

  val TopK = 5
  val NumQueries = 10 // query set = vec_id < 10
  val IvfStride = 50 // initial centroids = every 50th vector (Lloyd init)
  val IvfMaxCells = 256 // centroid-count cap: broadcast stays bounded at any corpus size
  val IvfProbes = 2 // query probes its 2 nearest cells
  val IvfLloydRounds = 2 // deterministic k-means refinement rounds
  val IvfMeanScale = 1048576.0 // 2^20 — exact double multiply, see lloydCentroids

  private def corpusWithNorm(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables
      .embeddingsFanned(spark, dir)
      .select($"vec_id", $"embedding", norm($"embedding").as("nrm"))
  }

  /** Exact top-k neighbors (cosine) for each query vector. */
  def topKBruteForce(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val queries = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val scored = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    scored
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= TopK)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", round($"cosine", 6).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Exact top-k via the typed TopKByCosine Aggregator — identical output
    * (and oracle) to topKBruteForce, but aggregation is map-side bounded:
    * each partition ships only its local k best per query, the 100 TB
    * shape (the window formulation shuffles every scored row).
    */
  def topKAggregated(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val queries = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val scored = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select(
        $"query_id".as[Long],
        struct(
          $"vec_id".as("neighbor_id"),
          (dot($"qe", $"embedding") / ($"qn" * $"nrm")).as("cosine")
        ).as[Scored]
      )
    rankTopK(scored, round($"cosine", 6))
  }

  /** Shared top-k assembly: bounded TopKByCosine aggregation per query,
    * flattened to (query_id, neighbor_id, rank, cosine) with the given
    * rounding applied. Both the float and the quantized aggregator paths
    * end here, so tie-break/rank semantics can never diverge.
    */
  private def rankTopK(
      scored: org.apache.spark.sql.Dataset[(Long, Scored)],
      roundedCosine: org.apache.spark.sql.Column
  ): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new TopKByCosine(TopK).toColumn)
      .flatMap { case (qid, top) =>
        top.zipWithIndex.map { case (s, i) => (qid, s.neighbor_id, i + 1, s.cosine) }
      }
      .toDF("query_id", "neighbor_id", "rank", "cosine")
      .select($"query_id", $"neighbor_id", $"rank".cast("int").as("rank"), roundedCosine.as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Trained IVF quantizer: `IvfLloydRounds` deterministic Lloyd
    * (k-means) iterations from a fixed stride-sample init. Every
    * arithmetic step is chosen to be bit-identical under DuckDB replay,
    * so the trained centroids — and with them the whole IVF result —
    * stay exactly oracle-checkable:
    *
    *  - assignment: the same cosine argmax (ties to lowest cid) the IVF
    *    probe itself uses;
    *  - update: the per-dimension MEAN is computed over components
    *    quantized to integers (floor(x·2²⁰ + 0.5): ·2²⁰ is an exact
    *    power-of-two double multiply, floor exact) — integer sums are
    *    associative, so the mean is independent of Spark's partition
    *    order AND identical to DuckDB's own summation order. The mean
    *    casts back to float, keeping centroids in the same Array[Float]
    *    shape as the corpus (the 2⁻²¹ quantization error is far inside a
    *    coarse quantizer's tolerance);
    *  - cells whose centroid attracts no vectors simply disappear, on
    *    both engines alike.
    *
    * Scale: each round is one broadcast-assign pass (map-side argmax,
    * one row per vector shuffles) plus a (cell × 64)-row mean — at
    * production scale the centroid count would be capped (fixed k
    * trained on a sample) rather than corpus/stride, but the round
    * shape is unchanged.
    */
  private[graft] def lloydCentroids(emb: DataFrame): DataFrame =
    lloydCentroids(emb, 0)

  /** `initOffset` shifts the stride-sample init (vec_id ≡ offset mod
    * IvfStride) so a quantizer trained on a FILTERED slice can still
    * seed from rows inside that slice — the append-index variant trains
    * on the base corpus (vec_id % IvfNewMod ≠ 0), and offset 1 keeps
    * every init vector in it (50k+1 ≢ 0 mod 5). Offset 0 is the
    * original rule, bit-for-bit.
    */
  private[graft] def lloydCentroids(emb: DataFrame, initOffset: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // stride sample capped at IvfMaxCells: real IVF trains a FIXED k on
    // a corpus sample, so the centroid broadcast must not grow with the
    // corpus — corpus/stride would. The cap is inactive below
    // IvfStride·IvfMaxCells vectors (deterministic either way, so the
    // oracle replays the same rule).
    var cents = emb
      .filter($"vec_id" % IvfStride === initOffset && $"vec_id" < IvfStride.toLong * IvfMaxCells)
      .select($"vec_id".as("cid"), $"embedding".as("ce"), $"nrm".as("cn"))
    for (_ <- 1 to IvfLloydRounds) {
      // assignment is the shared map-side argmax fold (assignCells) with
      // the embedding KEPT in the row — the round's only shuffle is the
      // (cell × 64)-group integer mean, fully hash-aggregable
      val assigned = assignCells(emb, cents, keep = Seq("embedding"))
        .select($"cid", $"embedding")
      val comps = assigned
        .select($"cid", posexplode($"embedding").as(Seq("j", "x")))
        .groupBy($"cid", $"j")
        .agg(sum(floor($"x".cast("double") * lit(IvfMeanScale) + lit(0.5))).as("s"), count(lit(1)).as("cnt"))
        .select(
          $"cid",
          $"j",
          (($"s".cast("double") / $"cnt".cast("double")) / lit(IvfMeanScale)).cast("float").as("cx")
        )
      cents = comps
        .groupBy($"cid")
        .agg(transform(array_sort(collect_list(struct($"j", $"cx"))), s => s("cx")).as("ce"))
        .select($"cid", $"ce", norm($"ce").as("cn"))
      // the recurrence stays LAZY on purpose: round k's broadcast
      // re-executes rounds 1..k−1, but each round is now a cheap linear
      // map+mean (no SortAggregate), bounded at the fixed 2-round depth —
      // an eager per-round localCheckpoint measured +2 s of job latency
      // on every in-session-trained serve
    }
    // persisted: the trained quantizer IS the stored artifact of a
    // production IVF index ("train once, serve many") — ≤ IvfMaxCells
    // rows, and the CacheManager's canonical-plan dedup lets every
    // same-session lookup reuse one training run instead of re-running
    // the Lloyd rounds per query
    cents.persist()
  }

  /** IVF (inverted-file) ANN — the clustering-based scale path beside the
    * LSH one: a coarse quantizer partitions the corpus into cells, each
    * vector joins the inverted list of its nearest centroid, and a query
    * scans only its `IvfProbes` nearest cells before the exact cosine
    * re-rank. The quantizer is k-means trained (lloydCentroids above) —
    * deterministically, so the DuckDB oracle replays training AND lookup
    * exactly.
    *
    * Scale shape: centroids broadcast; assignment is one map pass with a
    * map-side argmax aggregation (one row per vector shuffles); the
    * probe is an equi-join on cell id, so per-query work is
    * O(corpus × probes / cells), never a full scan. Ties in the
    * argmax break to the lowest centroid id on both engines.
    */
  def annIvf(spark: SparkSession, dir: String): DataFrame =
    annIvf(spark, dir, IvfProbes)

  /** `probes` is the recall/cost knob: each additional probe scans one
    * more inverted list per query (cost ∝ probes/cells of the corpus);
    * ApproxSpec pins that recall is monotone in it.
    */
  def annIvf(spark: SparkSession, dir: String, probes: Int): DataFrame = {
    val emb = corpusWithNorm(spark, dir)
    annIvfWith(emb, lloydCentroids(emb), probes)
  }

  /** Filtered ANN — the metadata-constrained retrieval every production
    * vector store serves ("nearest neighbors WHERE <predicate>"): per
    * query, top-3 by cosine among probed-cell vectors sharing the
    * query's label. The predicate is PRE-applied at the index, not
    * post-applied to the result list: candidates from the probed
    * inverted lists drop non-matching labels the moment they fetch
    * their metadata row — before any distance math or ranking state —
    * so a selective filter SHRINKS the scored set (probes/cells of the
    * corpus × selectivity) instead of starving a post-filtered top-k.
    * Recall stays governed by the probe knob exactly as in sim_ann_ivf
    * (the oracle replays probes + filter verbatim); a production store
    * widens probes when the filter is selective, the documented
    * trade-off this operator makes measurable.
    */
  def annIvfFiltered(spark: SparkSession, dir: String): DataFrame =
    annIvfLabelled(spark, dir, sameLabel = true)

  /** Registered query `sim_hard_negatives`: hard-negative mining — the
    * data-generation step behind every contrastively-trained retriever
    * and reranker: for each query (anchor), the top-3 MOST similar
    * vectors with a DIFFERENT label. Random negatives are too easy and
    * teach the model nothing; the hardest negatives are exactly the
    * near-misses an index surfaces anyway, so mining them is the
    * [[annIvfFiltered]] machinery with the label predicate INVERTED —
    * same probed inverted lists, same pre-applied metadata filter
    * (non-candidates drop before any distance math), same bounded scan
    * (probes/cells × selectivity). At 100 TB this is how training
    * triplets are minted: one index pass per anchor batch, never a
    * corpus×corpus similarity; the oracle replays probes + inverted
    * filter + re-rank verbatim.
    */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame =
    annIvfLabelled(spark, dir, sameLabel = false)

  /** Registered query `pipeline_triplets`: the training-pair miner
    * end-to-end — (anchor, positive, hard negative) rows ready for a
    * contrastive loss, the composed form of [[annIvfFiltered]] (rank-1
    * same-label positive) × [[hardNegatives]] (top-3 different-label
    * near-misses). The `margin` column (pos_cos − neg_cos) is the
    * built-in curriculum audit: a small or negative margin marks
    * exactly the triplets a retriever learns most from. Scale shape:
    * both sides come off the SAME probed candidate partition (one
    * quantizer, one probe set, the label predicate splitting it), so a
    * triplet batch costs one index pass per anchor batch plus a
    * K-row × K-row join per anchor — never a second corpus touch.
    */
  def trainingTriplets(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val pos = annIvfFiltered(spark, dir)
      .filter($"rank" === 1)
      .select($"query_id", $"label", $"neighbor_id".as("pos_id"), $"cosine".as("pos_cos"))
    val neg = hardNegatives(spark, dir)
      .select($"query_id", $"neighbor_id".as("neg_id"), $"rank".as("neg_rank"), $"cosine".as("neg_cos"))
    pos
      .join(neg, "query_id")
      .select(
        $"query_id",
        $"label",
        $"pos_id",
        $"pos_cos",
        $"neg_id",
        $"neg_rank",
        $"neg_cos",
        round($"pos_cos" - $"neg_cos", 6).as("margin")
      )
      .orderBy($"query_id", $"neg_rank")
  }

  private def annIvfLabelled(spark: SparkSession, dir: String, sameLabel: Boolean): DataFrame = {
    import spark.implicits._
    val embL = Tables
      .embeddingsFanned(spark, dir)
      .select($"vec_id", $"embedding", norm($"embedding").as("nrm"), $"label")
    val emb = embL.select($"vec_id", $"embedding", $"nrm")
    val cents = lloydCentroids(emb)
    // assignment via the assignCells pure map (r20, see annIvfWith);
    // the scored crossJoin survives only query-side (pushdown-bounded)
    val cell = assignCells(emb, cents)
    val wProbe = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    val qprobe = emb
      .crossJoin(broadcast(cents))
      .withColumn("ccos", dot($"embedding", $"ce") / ($"nrm" * $"cn"))
      .filter($"vec_id" < NumQueries)
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= IvfProbes)
      .select($"vec_id".as("query_id"), $"cid")
    val queryMeta = embL
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"), $"label".as("qlabel"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    cell
      .join(broadcast(qprobe), "cid")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
      .distinct()
      .join(embL, "vec_id") // candidate fetches vector + metadata once
      .join(broadcast(queryMeta), "query_id")
      .filter(if (sameLabel) $"label" === $"qlabel" else $"label" =!= $"qlabel") // pushed ahead of all distance math
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      // the label column is the QUERY's (== the neighbor's for the
      // filtered form; the mined-against anchor label for negatives)
      .select($"query_id", $"qlabel".as("label"), $"vec_id".as("neighbor_id"), $"rank", round($"cosine", 6).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** The DURABLE face of the quantizer artifact: the trained centroids
    * written once per content fingerprint as a warehouse table (the
    * same buildOnce/retirement discipline as the minhash signature
    * index), so a FRESH session — a different serving JVM — loads the
    * trained index from storage instead of re-running Lloyd. This is
    * the "train once, serve many" contract production vector stores
    * actually mean: the index outlives the trainer. Table size is the
    * artifact bound (≤ IvfMaxCells rows of one vector each).
    */
  private[graft] def ivfIndexTable(spark: SparkSession, dir: String): String = {
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val t = s"graft_ivf_cents_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_ivf_cents_"), Seq(t)) {
      lloydCentroids(corpusWithNorm(spark, dir))
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** The posting-table half of the durable index: the full-corpus
    * (vec_id → cell) assignment against the STORED centroids, written
    * once per content fingerprint. This is what an inverted-file index
    * physically IS — serving reads postings from storage and never
    * re-derives them (the 256×n-dot assignment pass belongs to the
    * build, not the query). Assignment arithmetic is [[assignCells]]
    * verbatim, so the stored rows equal the from-scratch ones
    * bit-for-bit (the sim_ivf_persisted equality argument).
    */
  private[graft] def ivfCellTable(spark: SparkSession, dir: String): String = {
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val t = s"graft_ivf_cells_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_ivf_cells_"), Seq(t)) {
      assignCells(corpusWithNorm(spark, dir), spark.table(ivfIndexTable(spark, dir)))
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** Registered query: IVF ANN served from the PERSISTED quantizer —
    * identical output (and oracle) to sim_ann_ivf, because the stored
    * centroids are the trained centroids; what changes is the serving
    * cost model: probe-path planning starts from a catalog read of a
    * ≤IvfMaxCells-row table, no training jobs in the serving path.
    */
  def annIvfPersisted(spark: SparkSession, dir: String): DataFrame = {
    val cents = spark.table(ivfIndexTable(spark, dir))
    annIvfWith(corpusWithNorm(spark, dir), cents, IvfProbes)
  }

  /** Nearest-cell assignment of `emb` against `cents` — the shared IVF
    * posting-list build as a PURE MAP: the ≤IvfMaxCells centroids
    * collect into ONE broadcast array (cid-ascending) and a single
    * `aggregate` fold per row computes the cosine argmax in place —
    * ascending-cid iteration with strictly-greater replacement is
    * exactly the old max(struct(ccos, -cid)) tie rule (ties to the
    * lowest cid), on the identical dot/divide doubles. The previous
    * crossJoin(×cells) + groupBy(max(struct)) form planned as
    * SortAggregate (a struct buffer cannot hash-aggregate), sorting the
    * whole exploded stream per build/Lloyd round — the r18 probes'
    * fourth-decade term. `keep` carries payload columns through the map
    * so callers (the Lloyd mean) never join the corpus back.
    * `withScore` additionally emits the WINNER's cosine under that
    * column name, recomputed from the winning centroid via element_at —
    * the identical dot/divide doubles the old form's max(struct) kept
    * (one extra 64-float dot per row instead of a corpus×k
    * SortAggregate), for the callers (prototypes, the admit artifact)
    * that need the alignment score, not just the cell.
    */
  private[graft] def assignCells(
      emb: DataFrame,
      cents: DataFrame,
      keep: Seq[String] = Nil,
      withScore: Option[String] = None
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val centArr = cents
      .agg(array_sort(collect_list(struct($"cid", $"ce", $"cn"))).as("cs"))
      .select(
        transform($"cs", c => c("cid")).as("cids"),
        transform($"cs", c => c("ce")).as("ces"),
        transform($"cs", c => c("cn")).as("cns")
      )
    val scoreCols = withScore.toSeq.map { name =>
      (dot($"embedding", element_at($"ces", $"bi" + 1)) /
        ($"nrm" * element_at($"cns", $"bi" + 1))).as(name)
    }
    emb
      .crossJoin(broadcast(centArr))
      .withColumn(
        "bi",
        graft.functions.VectorExpressions.argBestCosine($"ces", $"cns", $"embedding", $"nrm")
      )
      // parity with the old inner-join form: no centroids → no rows
      .filter($"bi" >= 0)
      .select(
        ($"vec_id" +: element_at($"cids", $"bi" + 1).as("cid") +: (scoreCols ++ keep.map(col))): _*
      )
  }

  val IvfNewMod = 5 // incremental split: vec_id % IvfNewMod == 0 is the new batch
  val IvfAppendInitOffset = 1 // stride-init offset that stays inside the base slice

  /** Builds (once per corpus fingerprint) the INCREMENTALLY-MAINTAINED
    * IVF index pair: the quantizer trained on the BASE corpus only
    * (vec_id % IvfNewMod ≠ 0) and the persisted posting table (vec_id →
    * cell) for the base vectors. This is the index-maintenance contract
    * every production vector store has and `sim_ivf_persisted` alone
    * does not: vectors arriving AFTER the build are assigned against
    * the STORED centroids — one broadcast map pass, cost bounded by the
    * batch — and appended to the postings; the quantizer is never
    * retrained on a tick (the exact analog of the minhash index's
    * appendToIndex and the layout's incremental manifest). Same
    * buildOnce/fingerprint/retirement discipline as every other
    * warehouse artifact.
    */
  private[graft] def ivfAppendTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val ct = s"graft_ivfapp_cents_$fp"
    val at = s"graft_ivfapp_asg_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_ivfapp_cents_", "graft_ivfapp_asg_"),
      Seq(ct, at)
    ) {
      val base = corpusWithNorm(spark, dir).filter($"vec_id" % IvfNewMod =!= 0)
      lloydCentroids(base, IvfAppendInitOffset)
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(ct)
      withVectors(assignCells(base, spark.table(ct)), base)
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(at)
    }
    (ct, at)
  }

  /** Posting rows CARRY their vectors — (vec_id, cid, embedding, nrm) —
    * the real vector-store layout: the exact re-rank reads raw vectors
    * straight off the probed posting lists, so vectors ingested after
    * the build (absent from any corpus file) are fully servable, and
    * serving never needs a second corpus join.
    */
  private def withVectors(asg: DataFrame, src: DataFrame): DataFrame = {
    val spark = asg.sparkSession
    import spark.implicits._
    asg.join(src.select($"vec_id", $"embedding", $"nrm"), "vec_id")
  }

  /** The ingest tick: assign `batch` (vec_id, embedding, nrm) against
    * the STORED quantizer and append the new postings (with their
    * vectors) — work ∝ batch, centroid table untouched (IvfAppendSpec
    * drives two ticks and pins both properties).
    */
  def ivfAppendTick(spark: SparkSession, centTable: String, asgTable: String, batch: DataFrame): Unit =
    withVectors(assignCells(batch, spark.table(centTable)), batch)
      .write
      .mode("append")
      .format("parquet")
      .saveAsTable(asgTable)

  /** Registered query: IVF top-k served over the incrementally-
    * maintained index — stored postings ∪ the arriving batch's tick
    * assignment. The in-flight tick covers ONLY ids absent from the
    * stored postings (anti-join against the already-ticked slice), so
    * a batch that was persisted via [[ivfAppendTick]] is never
    * re-assigned or double-counted, and a batch that wasn't is served
    * immediately (the persisting tick itself is the ivfAppendTick API,
    * driven by its spec, so the registered query stays idempotent per
    * fingerprint). The serving plan reads BOTH index tables from the
    * catalog and re-ranks off the vectors stored IN the postings: no
    * Lloyd jobs, no corpus-wide assignment, no corpus join — exactly
    * what "the index outlives the trainer, and ingest never rebuilds
    * it" means at 100 TB, and why out-of-corpus ingested vectors are
    * first-class serve candidates.
    */
  def annIvfAppended(spark: SparkSession, dir: String): DataFrame = {
    val (emb, cents, postings) = ivfAppendServeParts(spark, dir)
    ivfServeFromPostings(emb, cents, postings, IvfProbes)
  }

  /** The append-maintained index's full posting view: stored postings ∪
    * the in-flight pending tick (shared by the append serve and the
    * delete serve).
    */
  private def ivfAppendServeParts(
      spark: SparkSession,
      dir: String
  ): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    val (ct, at) = ivfAppendTables(spark, dir)
    val cents = spark.table(ct)
    val emb = corpusWithNorm(spark, dir)
    val stored = spark.table(at)
    // ids the tick slice already persisted: the base build never writes
    // % IvfNewMod == 0 rows, so the filter bounds the anti-join's right
    // side by the ticked volume, not the whole posting table
    val ticked = stored.filter($"vec_id" % IvfNewMod === 0).select($"vec_id")
    val pending = emb
      .filter($"vec_id" % IvfNewMod === 0)
      .join(ticked, Seq("vec_id"), "left_anti")
    val tick = withVectors(assignCells(pending, cents), pending)
    (emb, cents, stored.unionByName(tick))
  }

  /** The delete fixture: vec_id ≡ [[IvfDeleteRem]] (mod
    * [[IvfDeleteMod]]), guarded to the non-query id space — un-indexing
    * a query vector is meaningless (queries aren't corpus members).
    */
  val IvfDeleteMod = 9
  val IvfDeleteRem = 4

  /** The vector-index DV: victim ids written once as a kilobyte key
    * table. A delete NEVER touches the quantizer or the stored
    * postings — the same merge-on-read contract as the layout and
    * lexical-index deletes, applied to the vector store (FAISS-style
    * indexes call this an IDSelector / tombstone set).
    */
  private[graft] def ivfDvTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val t = s"graft_ivfapp_dv_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_ivfapp_dv_"), Seq(t)) {
      corpusWithNorm(spark, dir)
        .filter($"vec_id" % IvfDeleteMod === IvfDeleteRem && $"vec_id" >= NumQueries)
        .select($"vec_id")
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** Registered query `sim_ivf_delete`: the append-maintained IVF serve
    * AFTER a delete commit — the vector store's takedown path. Live
    * candidates = (stored ∪ pending-tick postings) ∖ DV via one
    * broadcast LeftAnti probe; centroids, stored postings, and the
    * probe path are bit-identical to sim_ivf_append (the oracle differs
    * from the append replay in exactly the candidate predicate). At
    * 100 TB this is why vector deletes are cheap: the DV is kilobytes,
    * the anti-join rides the already-probed posting lists, and the
    * index never retrains or rewrites.
    */
  def annIvfDeleted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (emb, cents, postings) = ivfAppendServeParts(spark, dir)
    val live = postings.join(
      broadcast(spark.table(ivfDvTable(spark, dir))),
      Seq("vec_id"),
      "left_anti"
    )
    ivfServeFromPostings(emb, cents, live, IvfProbes)
  }

  /** Spec ledger: (non-empty micro-batches, final DV rows) of the last
    * streaming vector-takedown drain in this JVM.
    */
  private[graft] val lastStreamIvfDel =
    new java.util.concurrent.atomic.AtomicReference[(Int, Long)]((0, 0L))

  /** The vector index's takedown queue drained THROUGH THE STREAM — the
    * delete verb's continuous form for the third serving-index family,
    * symmetric with `stream_bm25_takedown` and `stream_layout_takedown`:
    * victim vec_ids arrive as a Structured Streaming file source and
    * `foreachBatch` IS the delete commit — each batch appends its own
    * kilobyte id slice to the tombstone table. The quantizer and the
    * stored postings are never touched (the FAISS IDSelector contract,
    * streamed); because the DV is a set union of disjoint id slices,
    * N partial takedowns equal the one-shot [[ivfDvTable]] EXACTLY
    * (spec-pinned). Per-trigger cost ∝ that batch's victims at any
    * corpus size.
    */
  private[graft] def ivfStreamDvTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val dvt = s"graft_ivfsd_dv_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_ivfsd_dv_"), Seq(dvt)) {
      spark.sql(s"DROP TABLE IF EXISTS $dvt")
      val frag = graft.Warehouse.tmpDirOnce("graft_ivfsdq_", fp) { path =>
        corpusWithNorm(spark, dir)
          .filter($"vec_id" % IvfDeleteMod === IvfDeleteRem && $"vec_id" >= NumQueries)
          .select($"vec_id")
          .repartition(6)
          .write
          .mode("overwrite")
          .parquet(path)
      }
      // crash-safe drain: per-batch staged slices, table committed only
      // after a complete drain (see StreamDrain scaladoc — a partial
      // first-batch-created table must never satisfy build-once)
      val batches = graft.streaming.StreamDrain.drainToTable(spark, frag, dvt)
      lastStreamIvfDel.set((batches, spark.table(dvt).count()))
      ()
    }
    dvt
  }

  /** Registered query `stream_ivf_takedown`: the append-maintained IVF
    * serve AFTER the takedown queue drained through the stream —
    * identical ranking (and oracle) to [[annIvfDeleted]], because the
    * accumulated tombstone slices union to the same victim set and the
    * serve is the same one-broadcast-probe anti-join over the probed
    * posting lists. This closes the streaming-delete column across all
    * three serving-index families (lexical, layout, vector): continuous
    * ingest AND continuous takedown both commit kilobytes per trigger,
    * and neither ever rebuilds an index.
    */
  def annIvfStreamDeleted(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (emb, cents, postings) = ivfAppendServeParts(spark, dir)
    val live = postings.join(
      broadcast(spark.table(ivfStreamDvTable(spark, dir))),
      Seq("vec_id"),
      "left_anti"
    )
    ivfServeFromPostings(emb, cents, live, IvfProbes)
  }

  // ---- IVF cell-rebalance audit ----------------------------------------

  /** Serve budget between maintenance passes — the rebalance analog of
    * SCALING.md's read-tax compaction rule: retrain when this many
    * serves' accumulated bloat tax crosses ONE corpus-reassignment pass.
    */
  val RebalanceServeBudget = 10000

  /** Registered query `sim_ivf_balance`: the health audit every
    * append-maintained IVF index needs — ticked vectors assign against
    * the BASE-corpus quantizer, so after many ticks cells bloat and
    * drift (new mass far from the frozen centroids), probes scan ever
    * longer posting lists, and recall decays silently. The audit runs
    * over the SERVING posting view — stored postings ∪ the pending
    * tick's assignment (the same [[ivfAppendServeParts]] derivation
    * every serve of the append family pays: one corpus read + one
    * broadcast-centroid assign for the not-yet-persisted slice; once a
    * tick IS persisted via [[ivfAppendTick]], the pending side is
    * empty and the audit reads only stored rows) — in one narrow
    * census pass (postings ⋈ broadcast centroids — no Lloyd job, no
    * pairwise work): per live cell, base vs ticked population, growth ratio,
    * mean own-centroid cosine of each cohort (quantized to integer
    * 2²⁰-units before summing, so the mean is summation-order-exact on
    * both engines), the drift between them (positive = ticked mass
    * sits farther from the centroid than the mass the quantizer was
    * trained on), the cell's excess posting mass over a balanced
    * layout (the extra rows every probe of it scans), and a per-cell
    * retrain flag (ticked members outnumber base — that cell's
    * geometry is no longer the trained one). The summary row
    * (cid = -1) prices the whole-index retrain like SCALING.md:715
    * prices compaction: expected scan fraction under population-
    * weighted probes is Σ popᵢ²/N², a balanced layout pays 1/C, and
    * the trigger fires when [[RebalanceServeBudget]] × IvfProbes ×
    * (that excess) exceeds the one-time cost of a full reassignment
    * pass (≡ 1.0 corpus scans). At 100 TB this decides WHEN to pay
    * the retrain the tick path correctly never pays.
    */
  def ivfBalance(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (_, cents, postings) = ivfAppendServeParts(spark, dir)
    val r6 = graft.text.TextAnalysis.round6 _
    val scored = postings
      .join(broadcast(cents.select($"cid", $"ce", $"cn")), "cid")
      .select(
        $"cid",
        floor(dot($"embedding", $"ce") / ($"nrm" * $"cn") * lit(IvfMeanScale) + lit(0.5))
          .cast("long")
          .as("q"),
        when($"vec_id" % IvfNewMod =!= 0, 1L).otherwise(0L).as("isb")
      )
    val perCell = scored
      .groupBy($"cid")
      .agg(
        sum($"isb").as("n_base"),
        sum(lit(1L) - $"isb").as("n_ticked"),
        count(lit(1)).as("n_total"),
        sum(when($"isb" === 1L, $"q")).as("sb"),
        sum(when($"isb" === 0L, $"q")).as("st")
      )
    val tot = perCell
      .crossJoin(broadcast(cents.agg(count(lit(1)).as("c"))))
      .groupBy()
      .agg(
        sum($"n_total").as("n"),
        sum($"n_total" * $"n_total").as("sp"),
        sum($"n_base").as("tb"),
        sum($"n_ticked").as("tt"),
        sum($"sb").as("tsb"),
        sum($"st").as("tst"),
        max($"c").as("c")
      )
      .withColumn("bal", expr("(n + c - 1) div c"))
    val withTot = perCell.crossJoin(broadcast(tot))
    val perRows = withTot.select(
      $"cid",
      $"n_base",
      $"n_ticked",
      $"n_total",
      r6($"n_ticked".cast("double") / greatest($"n_base", lit(1L)).cast("double")).as("growth"),
      r6(($"sb".cast("double") / $"n_base".cast("double")) / lit(IvfMeanScale)).as("base_cos"),
      r6(($"st".cast("double") / $"n_ticked".cast("double")) / lit(IvfMeanScale)).as("tick_cos"),
      r6(
        ($"sb".cast("double") / $"n_base".cast("double") -
          $"st".cast("double") / $"n_ticked".cast("double")) / lit(IvfMeanScale)
      ).as("drift"),
      r6(greatest($"n_total" - $"bal", lit(0L)).cast("double") / $"n".cast("double")).as("excess_frac"),
      when($"n_ticked" > $"n_base", 1L).otherwise(0L).as("retrain")
    )
    val sumRow = withTot
      .groupBy()
      .agg(
        max($"tb").as("tb"),
        max($"tt").as("tt"),
        max($"n").as("n"),
        max($"tsb").as("tsb"),
        max($"tst").as("tst"),
        max($"sp").as("sp"),
        max($"c").as("c"),
        sum(greatest($"n_total" - $"bal", lit(0L))).as("excess")
      )
      .select(
        lit(-1L).as("cid"),
        $"tb".as("n_base"),
        $"tt".as("n_ticked"),
        $"n".as("n_total"),
        r6($"tt".cast("double") / greatest($"tb", lit(1L)).cast("double")).as("growth"),
        r6(($"tsb".cast("double") / $"tb".cast("double")) / lit(IvfMeanScale)).as("base_cos"),
        r6(($"tst".cast("double") / $"tt".cast("double")) / lit(IvfMeanScale)).as("tick_cos"),
        r6(
          ($"tsb".cast("double") / $"tb".cast("double") -
            $"tst".cast("double") / $"tt".cast("double")) / lit(IvfMeanScale)
        ).as("drift"),
        r6($"excess".cast("double") / $"n".cast("double")).as("excess_frac"),
        when(
          lit((RebalanceServeBudget * IvfProbes).toDouble) *
            ($"sp".cast("double") / ($"n" * $"n").cast("double") - lit(1.0) / $"c".cast("double")) >= lit(1.0),
          1L
        ).otherwise(0L).as("retrain")
      )
    perRows.unionByName(sumRow).orderBy($"cid")
  }

  /** Spec ledger: (non-empty micro-batches, posting rows) of the last
    * streaming vector-index build in this JVM.
    */
  private[graft] val lastStreamIvf =
    new java.util.concurrent.atomic.AtomicReference[(Int, Long)]((0, 0L))

  /** The STREAM-maintained vector index — the continuous write path of
    * the embedding store, completing the streaming column of the
    * maintenance matrix (BM25, layout, MV and the dedup admission gate
    * already have theirs). The division of labor is the production one:
    * the quantizer is trained OFFLINE (it is literally the append
    * family's stored centroid table, copied narrow — streaming never
    * runs a Lloyd job), and a Structured Streaming file source drains
    * the corpus in micro-batches where `foreachBatch` IS the index
    * tick — each batch runs [[ivfAppendTick]] verbatim: assign against
    * the stored centroids, append postings that carry their vectors.
    * At 100 TB this is how embeddings actually land: a model server
    * emits vectors continuously, each micro-batch pays one broadcast
    * assignment map pass, and the accumulated posting table IS the
    * serving index — no rebuild, no retrain, ever. Checkpoint is
    * per-BUILD (the bm25 stream's lesson): a resumed checkpoint from an
    * earlier JVM would drain zero batches into this JVM's empty tables.
    */
  private[graft] def ivfStreamTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val ct = s"graft_ivfs_cents_$fp"
    val at = s"graft_ivfs_asg_$fp"
    // the postings table is CREATED by the first micro-batch, so the
    // guard includes a completion sentinel written after the drain — a
    // crash mid-drain must not leave a half-index that satisfies
    // build-once (see Warehouse.writeDoneSentinel)
    val done = s"graft_ivfs_done_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_ivfs_cents_", "graft_ivfs_asg_", "graft_ivfs_done_"),
      Seq(ct, at, done)
    ) {
      val (act, _) = ivfAppendTables(spark, dir)
      val frag = graft.Warehouse.tmpDirOnce("graft_ivfsrc_", fp) { path =>
        corpusWithNorm(spark, dir).repartition(6).write.mode("overwrite").parquet(path)
      }
      Seq(ct, at).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.table(act).write.mode("overwrite").format("parquet").saveAsTable(ct)
      val batches = graft.streaming.StreamDrain.drainTicks(spark, frag, "graft_ivfchk_") {
        df => ivfAppendTick(spark, ct, at, df)
      }
      lastStreamIvf.set((batches, spark.table(at).count()))
      graft.Warehouse.writeDoneSentinel(spark, done)
      ()
    }
    (ct, at)
  }

  /** Registered query `stream_ivf_ingest`: the IVF serve from the
    * STREAM-maintained index — identical ranking (and oracle) to
    * sim_ivf_append, proving the continuous write path assigned exactly
    * the corpus it drained against exactly the offline-trained
    * quantizer. The serve is the same catalog-only posting scan as the
    * batch-maintained family's.
    */
  def ivfStreamServe(spark: SparkSession, dir: String): DataFrame = {
    val (ct, at) = ivfStreamTables(spark, dir)
    ivfServeFromPostings(corpusWithNorm(spark, dir), spark.table(ct), spark.table(at), IvfProbes)
  }

  /** COMPACTION — the fourth lifecycle verb (build / append-tick /
    * delete / compact), vector-index edition. The MoR serve pays two
    * recurring costs per query: the DV anti-join over the probed
    * posting lists and the re-derivation of the in-flight pending tick
    * (ids not yet persisted get re-assigned on every serve). Compaction
    * retires both at once: (stored ∪ pending-tick) ∖ DV is written ONCE
    * as the new posting table — a single narrow pass over posting rows
    * (the vectors ride along; no distance math, no Lloyd jobs, the only
    * assignment work is the pending slice, never the stored rows) — and
    * the compacted family needs no DV and no tick derivation at serve
    * time. The quantizer is SHARED with the append family and untouched
    * (spec-pinned): compaction consolidates the log into the base, it
    * never retrains — exactly FAISS's `remove_ids` + rebuild-free
    * consolidation, and why a 100 TB vector store alternates kilobyte
    * MoR commits with periodic compaction.
    */
  private[graft] def ivfCompactTable(spark: SparkSession, dir: String): String = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val t = s"graft_ivfcmp_asg_$fp"
    graft.Warehouse.buildOnce(spark, Seq("graft_ivfcmp_asg_"), Seq(t)) {
      val (_, _, postings) = ivfAppendServeParts(spark, dir)
      postings
        .join(broadcast(spark.table(ivfDvTable(spark, dir))), Seq("vec_id"), "left_anti")
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(t)
    }
    t
  }

  /** Registered query `sim_ivf_compact`: the IVF serve from the
    * COMPACTED posting table — identical output (and oracle) to
    * [[annIvfDeleted]], because stored ∪ tick ∖ DV is exactly the live
    * candidate set the MoR serve derives per query; compaction just
    * materializes it. The serve plan reads ONE posting table and the
    * shared centroids: no anti-join, no pending-tick assignment, no
    * corpus file in the candidate path. IvfCompactSpec pins row-level
    * preservation (compacted rows ⊆ live rows exactly — compaction
    * drops victims, it never re-assigns survivors), centroid-table
    * identity with the append family, and serve equality.
    */
  def annIvfCompacted(spark: SparkSession, dir: String): DataFrame = {
    val (ct, _) = ivfAppendTables(spark, dir)
    ivfServeFromPostings(
      corpusWithNorm(spark, dir),
      spark.table(ct),
      spark.table(ivfCompactTable(spark, dir)),
      IvfProbes
    )
  }

  /** The RETRAIN — the maintenance verb [[ivfBalance]]'s priced trigger
    * decides to run. Ticks assign against a frozen quantizer and
    * deletes only tombstone, so after enough of both the audit's drift
    * and bloat metrics degrade; retrain folds ALL accumulated
    * maintenance into a fresh index generation: train a new quantizer
    * over the LIVE vectors as stored in the index (postings ∖ DV — the
    * index outlives its corpus files, so training reads the postings'
    * own vectors, never a corpus re-scan), then reassign every live
    * vector in one broadcast pass. The old generation's centroid and
    * posting tables are NEVER touched (spec-pinned): the new generation
    * is separate catalog state, the swap a reader makes by name — the
    * blue/green index rollover every production vector store does,
    * priced by the audit at one corpus pass + a Lloyd job over the
    * live set.
    */
  private[graft] def ivfRetrainTables(spark: SparkSession, dir: String): (String, String) = {
    import spark.implicits._
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    val ct = s"graft_ivfrt_cents_$fp"
    val at = s"graft_ivfrt_asg_$fp"
    graft.Warehouse.buildOnce(
      spark,
      Seq("graft_ivfrt_cents_", "graft_ivfrt_asg_"),
      Seq(ct, at)
    ) {
      val (_, _, postings) = ivfAppendServeParts(spark, dir)
      val live = postings
        .join(broadcast(spark.table(ivfDvTable(spark, dir))), Seq("vec_id"), "left_anti")
        .select($"vec_id", $"embedding", $"nrm")
      lloydCentroids(live, IvfAppendInitOffset)
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(ct)
      withVectors(assignCells(live, spark.table(ct)), live)
        .write
        .mode("overwrite")
        .format("parquet")
        .saveAsTable(at)
    }
    (ct, at)
  }

  /** Registered query `sim_ivf_retrain`: the IVF serve from the
    * RETRAINED index generation — fresh quantizer over the live set
    * (deletes folded, tick drift absorbed), fresh postings, same probe
    * contract. The serving plan reads the new generation's two catalog
    * tables; the old append-family tables are untouched bystanders.
    * IvfRetrainSpec pins generation isolation, full one-pass
    * reassignment, victim exclusion, and serve equality with an
    * independent from-scratch recompute.
    */
  def annIvfRetrained(spark: SparkSession, dir: String): DataFrame = {
    val (ct, at) = ivfRetrainTables(spark, dir)
    ivfServeFromPostings(corpusWithNorm(spark, dir), spark.table(ct), spark.table(at), IvfProbes)
  }

  /** IVF probe-path serving where the posting rows carry their vectors:
    * query probes scored fresh against `cents` (broadcast), candidates
    * = probed posting rows, exact cosine re-rank directly on the stored
    * vectors, top-3. Duplicate postings (e.g. a replayed tick) collapse
    * via the per-(query, vector) dedup rather than poisoning ranks.
    */
  private[graft] def ivfServeFromPostings(
      emb: DataFrame,
      cents: DataFrame,
      postings: DataFrame,
      probes: Int
  ): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val wProbe = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    val qprobe = emb
      .filter($"vec_id" < NumQueries)
      .crossJoin(broadcast(cents))
      .withColumn("ccos", dot($"embedding", $"ce") / ($"nrm" * $"cn"))
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= probes)
      .select($"vec_id".as("query_id"), $"cid")
    val queryVecs = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    postings
      .join(broadcast(qprobe), "cid")
      .filter($"vec_id" =!= $"query_id")
      .dropDuplicates("query_id", "vec_id")
      .join(broadcast(queryVecs), "query_id")
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", round($"cosine", 6).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  private def annIvfWith(emb: DataFrame, cents: DataFrame, probes: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // nearest cell per vector: the assignCells pure map (r20) — the
    // old crossJoin(×cells) + groupBy(max(struct)) planned a corpus×k
    // SortAggregate; the scored crossJoin below survives only on the
    // QUERY side, where the vec_id < NumQueries pushdown bounds it to
    // queries×k rows (top-`probes` cells need a ranked list, not the
    // argmax, so the window formulation is the right one there)
    val cell = assignCells(emb, cents)
    val wProbe = Window.partitionBy($"vec_id").orderBy($"ccos".desc, $"cid")
    val qprobe = emb
      .crossJoin(broadcast(cents))
      .withColumn("ccos", dot($"embedding", $"ce") / ($"nrm" * $"cn"))
      .filter($"vec_id" < NumQueries)
      .withColumn("rn", row_number().over(wProbe))
      .filter($"rn" <= probes)
      .select($"vec_id".as("query_id"), $"cid")
    val cand = cell
      .join(broadcast(qprobe), "cid")
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
      .distinct()
    val queryVecs = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    cand
      .join(broadcast(queryVecs), "query_id")
      .join(emb, "vec_id")
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", round($"cosine", 6).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al., 2023): cluster
    * the embedding corpus with the SAME deterministically-trained Lloyd
    * quantizer the IVF index uses, then find near-duplicate pairs ONLY
    * within each cluster (exact cosine ≥ the embed near-dup threshold)
    * and keep the smallest id of every duplicate group. The
    * cluster-bounded pairwise join is the scale mechanism: candidates
    * are O(Σ cluster_size²), never corpus², and in production k grows
    * with the corpus (IvfMaxCells is the test-scale constant) so cluster
    * sizes — and the per-cluster join — stay bounded. Complements
    * `dedup_embedding`: LSH buckets catch near-identical vectors
    * globally; semantic clusters catch same-meaning redundancy locally.
    *
    * Output: one verdict per vector — its cluster, the smallest
    * same-cluster semantic duplicate below it (null if none), and the
    * keep flag. The trained quantizer is the shared session-cached
    * artifact, so this costs one assignment pass + the bounded join.
    */
  /** Cell-population cap for [[semanticDedup]]'s capped variant — the
    * `SimhashBucketCap` pattern applied to Lloyd cells: a cell holding
    * more than this many vectors is dropped from the pair join
    * entirely (its members keep=1, like docs in dropped LSH buckets).
    * The within-cell exact join is Σ cell² — bounded by cap²·k once
    * hot cells are dropped, so a quantizer that collapses into few hot
    * cells (the adversarial case for SemDeDup) can no longer produce
    * an n² term. Production systems instead re-train with larger k or
    * split hot cells; the cap is the safety floor either way.
    */
  val SemanticCellCap = 64

  def semanticDedup(spark: SparkSession, dir: String): DataFrame =
    semanticDedup(spark, dir, None)

  def semanticDedup(spark: SparkSession, dir: String, maxCell: Option[Int]): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val cents = lloydCentroids(emb)
    // assignment as the assignCells pure map (r20): the old
    // crossJoin(×cells) + groupBy(max(struct)) planned a SortAggregate
    // over corpus×k rows — the documented fourth-decade term the IVF
    // build already removed; same argmax, same tie rule, same doubles
    val cell = assignCells(emb, cents)
    // capped path: drop over-populated cells BEFORE the pair join. The
    // population frame is centroid-count-sized (≤ IvfMaxCells rows) —
    // broadcast, never a shuffle of the corpus.
    val pairSource = maxCell match {
      case None => cell
      case Some(cap) =>
        val ok = cell
          .groupBy($"cid")
          .agg(count(lit(1)).as("cell_n"))
          .filter($"cell_n" <= cap)
          .select($"cid")
        cell.join(broadcast(ok), "cid").select($"vec_id", $"cid")
    }
    val withVec = pairSource.join(emb, "vec_id")
    val pairs = withVec
      .as("a")
      .join(
        withVec.as("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id")
      )
      .withColumn("cosine", dot(col("a.embedding"), col("b.embedding")) / (col("a.nrm") * col("b.nrm")))
      .filter($"cosine" >= Dedup.EmbedCosThreshold)
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
    val dups = pairs.groupBy($"id_b".as("vec_id")).agg(min($"id_a").as("sem_dup_of"))
    cell
      .join(dups, Seq("vec_id"), "left")
      .select(
        $"vec_id",
        $"cid",
        $"sem_dup_of",
        when($"sem_dup_of".isNull, 1L).otherwise(0L).as("keep")
      )
      .orderBy($"vec_id")
  }

  /** Per-cluster prototype selection — the coreset/diversity-pruning
    * face of the quantizer artifact: for every Lloyd cell, the vector
    * most aligned with its centroid (ties to the smallest vec_id), the
    * cell population, and the alignment score. Training-data pipelines
    * use exactly this to subsample redundant regions (keep prototypes,
    * downweight the rest) and to audit IVF index balance (skewed
    * cluster_size = bad quantizer). Scale: one broadcast-centroid map
    * pass, then TWO map-side-combined argmax/count aggregations — one
    * row per vector shuffles, output is cell-count-sized. No windows.
    */
  def prototypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val cents = lloydCentroids(emb)
    // assignCells pure map with the winner's score (r20) — replaces the
    // corpus×k SortAggregate; ccos recomputed from the winning centroid
    // is the identical dot/divide double the max(struct) kept
    val cell = assignCells(emb, cents, withScore = Some("ccos"))
    cell
      .groupBy($"cid")
      .agg(
        count(lit(1)).as("cluster_size"),
        max(struct($"ccos", (-$"vec_id").as("nvid"))).as("rep")
      )
      .select(
        $"cid",
        (-$"rep.nvid").as("rep_id"),
        $"cluster_size",
        graft.text.TextAnalysis.round6($"rep.ccos").as("rep_cos")
      )
      .orderBy($"cid")
  }

  /** Ingest split for the streaming semantic-admission gate: vectors
    * with vec_id % StreamAdmitMod == 0 arrive as the stream (the
    * Dedup.NewBatchMod convention on the embeddings table).
    */
  val StreamAdmitMod = 5

  /** One cell of the serving artifact the streaming admission gate
    * loads: the Lloyd centroid (for assignment) and the cell's
    * prototype vector (for the redundancy score). cid-ascending order
    * is the argmax tie rule ("first strictly-greater wins" == lowest
    * cid on ties).
    */
  case class AdmitCell(cid: Long, ce: Array[Float], cn: Double, repId: Long, re: Array[Float], rn: Double)

  /** Collects the quantizer + prototypes to a driver-side array — the
    * serving-artifact load every online scorer does at startup. The
    * artifact is k-bounded (≤ IvfMaxCells cells × 2 vectors), NEVER
    * corpus-sized, so shipping it in task closures is metadata-scale
    * work like the Bloom filter and the pruned-scan manifest.
    */
  private[graft] def admitArtifact(spark: SparkSession, dir: String): Array[AdmitCell] = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val cents = lloydCentroids(emb)
    // assignCells pure map with score (r20) — see prototypes
    val cell = assignCells(emb, cents, withScore = Some("ccos"))
    val reps = cell
      .groupBy($"cid")
      .agg(max(struct($"ccos", (-$"vec_id").as("nvid"))).as("rep"))
      .select($"cid", (-$"rep.nvid").as("rep_id"))
    reps
      .join(cents, "cid")
      .join(
        emb.select($"vec_id".as("rep_id"), $"embedding".as("re"), $"nrm".as("rn")),
        "rep_id"
      )
      .select($"cid", $"ce", $"cn", $"rep_id", $"re", $"rn")
      .orderBy($"cid")
      .collect()
      .map { r =>
        AdmitCell(
          r.getLong(0),
          r.getSeq[Float](1).toArray,
          r.getDouble(2),
          r.getLong(3),
          r.getSeq[Float](4).toArray,
          r.getDouble(5)
        )
      }
  }

  val QuantRange = 127.0 // symmetric int8 range

  /** Scalar-quantized (int8-style) top-k cosine — the memory-reduction
    * serving path every production vector store ships (FAISS SQ8,
    * Lucene/Elasticsearch int8_hnsw): each float component maps to an
    * integer in [−127, 127] under one corpus-wide symmetric scale, and
    * scoring runs on integer dot products (4× smaller vectors, SIMD-int
    * kernels). Quantization is round-half-up of x·(127/max|x|); the
    * similarity is the cosine of the QUANTIZED vectors — exactly
    * replayable cross-engine because integer dots are associativity-free
    * (no fold-order contract needed, unlike the float path) and the
    * division/sqrt are single IEEE ops on exact integer inputs.
    *
    * Scale shape: the corpus max|component| is one map-side-combined
    * 1-row aggregate broadcast back; quantization is map-side; the query
    * set broadcasts; and the top-k is the TopKByCosine Aggregator (k
    * rows per partition ship, never every scored row — the same contract
    * as sim_topk_agg).
    */
  def topKQuantized(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.VectorExpressions.idot
    val maxAbs = Tables
      .embeddingsFanned(spark, dir)
      .agg(max(array_max(transform($"embedding", x => abs(x)))).as("max_abs"))
    val quant = Tables
      .embeddingsFanned(spark, dir)
      .crossJoin(broadcast(maxAbs))
      .withColumn("scl", lit(QuantRange) / $"max_abs".cast("double"))
      .withColumn(
        "qe",
        transform($"embedding", x => floor(x.cast("double") * $"scl" + lit(0.5)).cast("int"))
      )
      .withColumn("qn", sqrt(idot($"qe", $"qe").cast("double")))
      // a vector whose every |component| < max_abs/254 quantizes to all
      // zeros (qn = 0) and has no defined cosine — excluded on both
      // engines, or the 0/0 NaN would rank nondeterministically here and
      // first in the oracle's DESC sort. The float paths can't hit this
      // (only an exactly-zero vector has norm 0); quantization can.
      .filter($"qn" > 0)
      .select($"vec_id", $"qe", $"qn")
    val queries = quant
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"qe".as("qq"), $"qn".as("qqn"))
    val scored = quant
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select(
        $"query_id".as[Long],
        struct(
          $"vec_id".as("neighbor_id"),
          (idot($"qq", $"qe").cast("double") / ($"qqn" * $"qn")).as("cosine")
        ).as[Scored]
      )
    // round6, not round(_, 6): quantized cosines are integer ratios —
    // exactly the class that can land on decimal-.5 boundaries
    rankTopK(scored, graft.text.TextAnalysis.round6($"cosine"))
  }

  val GraphK = 3

  // The kNN graph IS a stored artifact in production (retrieval index /
  // semantic-dedup input — built once, consumed by many) — so, like the
  // minhash signature index, the cluster-assignment fixpoint, and the
  // Lloyd quantizer, it is persisted per (session, dir, content
  // fingerprint): sim_knn_graph and graph_triangles share one
  // materialization instead of re-running LSH + re-rank each. A
  // regenerated source supersedes the entry and unpersists its blocks.
  private val knnGraphs = new graft.Warehouse.Memo[(String, String), DataFrame](free = _.unpersist())

  /** k-NN graph over the WHOLE corpus — the input to graph-based semantic
    * dedup (SemDeDup-style clustering) and retrieval index builds: per
    * vector, its top-GraphK neighbors among LSH band-bucket candidates,
    * exact cosine re-rank. Same hyperplane constants and band layout as
    * annLsh / Dedup.embeddingNearDup.
    *
    * Scale shape: no query set to broadcast here — both sides are the
    * corpus — so everything must stay bucket-bounded: candidates are
    * O(n²/256) per band (never all pairs), signatures are one long per
    * vector, and the re-rank join moves only candidate pairs. The
    * per-source window top-k ranks each vector's own candidate list; the
    * TopKByCosine aggregator is the drop-in if per-vector candidate
    * lists ever outgrow a window partition.
    */
  def knnGraph(spark: SparkSession, dir: String): DataFrame = {
    val fp = graft.Warehouse.sourceFingerprint(spark, s"$dir/embeddings.parquet")
    knnGraphs(spark, (dir, fp), k => k._1 == dir && k._2 != fp)(knnGraphUncached(spark, dir).persist())
  }

  private[graft] def knnGraphUncached(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planes = hyperplanes(Dedup.EmbedPlanes, 64)
    val emb = corpusWithNorm(spark, dir)
      .withColumn("sig", lshSignature($"embedding", planes))
    val banded = emb.select(
      $"vec_id",
      posexplode(Dedup.embedBandBuckets($"sig")).as(Seq("band", "bucket"))
    )
    val cand = banded
      .as("a")
      .join(
        banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.vec_id") =!= col("b.vec_id")
      )
      .select(col("a.vec_id").as("src_id"), col("b.vec_id").as("dst_id"))
      .distinct()
    val w = Window.partitionBy($"src_id").orderBy($"cosine".desc, $"dst_id")
    cand
      .join(emb.select($"vec_id".as("src_id"), $"embedding".as("se"), $"nrm".as("sn")), "src_id")
      .join(emb.select($"vec_id".as("dst_id"), $"embedding".as("de"), $"nrm".as("dn")), "dst_id")
      .withColumn("cosine", dot($"se", $"de") / ($"sn" * $"dn"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= GraphK)
      .select($"src_id", $"dst_id", $"rank", round($"cosine", 6).as("cosine"))
      .orderBy($"src_id", $"rank")
  }

  /** LSH-bucketed ANN: candidates share ≥1 signature band with the query,
    * then exact cosine re-rank, top-3 per query. Same hyperplane
    * constants and band layout as Dedup.embeddingNearDup (shared
    * embedBandBuckets helper).
    */
  def annLsh(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val planes = hyperplanes(Dedup.EmbedPlanes, 64)
    val emb = corpusWithNorm(spark, dir)
      .withColumn("sig", lshSignature($"embedding", planes))
    val banded = emb.select(
      $"vec_id",
      posexplode(Dedup.embedBandBuckets($"sig")).as(Seq("band", "bucket"))
    )
    val queryBands = banded
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"band", $"bucket")
    val candIds = banded
      .join(broadcast(queryBands), Seq("band", "bucket"))
      .filter($"vec_id" =!= $"query_id")
      .select($"query_id", $"vec_id")
      .distinct()
    val queryVecs = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val w = Window.partitionBy($"query_id").orderBy($"cosine".desc, $"vec_id")
    candIds
      .join(broadcast(queryVecs), "query_id")
      .join(emb, "vec_id")
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
      .withColumn("rank", row_number().over(w))
      .filter($"rank" <= 3)
      .select($"query_id", $"vec_id".as("neighbor_id"), $"rank", round($"cosine", 6).as("cosine"))
      .orderBy($"query_id", $"rank")
  }

  /** Cosine threshold for [[rangeSearch]] — ε-ball retrieval, the
    * radius-query complement of top-k (near-dup mining at a similarity
    * bar, recall-bounded candidate pools). 0.3 sits well above the
    * random-pair band of the synthetic corpus (~N(0, 0.125)) so the
    * result is the meaningful tail, not noise.
    */
  val RangeTau = 0.3

  /** Exact range (ε-ball) search: every corpus vector with cosine ≥
    * [[RangeTau]] to each query. Scale shape: this is the
    * embarrassingly-parallel similarity op — queries broadcast, the
    * codegen'd dot + threshold filter run map-side on the corpus scan,
    * and unlike top-k there is NO aggregation state: zero shuffles
    * before the output sort, output bounded by the threshold. The
    * selectivity knob is τ itself; production range queries against an
    * IVF index would scan only probed cells (sim_ann_ivf's bound), but
    * the exact form IS the 100 TB baseline — one pass, no state.
    */
  def rangeSearch(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val queries = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
      .filter($"cosine" >= RangeTau)
      .select($"query_id", $"vec_id".as("neighbor_id"), round($"cosine", 6).as("cosine"))
      .orderBy($"query_id", $"neighbor_id")
  }

  /** Flagging bar for [[decontaminate]]: a corpus vector whose best
    * eval cosine reaches this is semantically entangled with the eval
    * set. 0.35 sits in the upper tail of the synthetic corpus's
    * eval-similarity distribution (90th pct ≈ 0.33, max ≈ 0.45–0.49
    * across sf0.001–0.1, measured), so BOTH arms — flagged and kept —
    * are exercised on the oracled path at every scale factor.
    */
  val SemDecontamTau = 0.35

  /** Registered query `sim_decontaminate`: EMBEDDING-level benchmark
    * decontamination — the semantic complement of the n-gram-overlap
    * `text_decontaminate`: paraphrased or translated eval leakage
    * shares no shingles but lands next to the eval set in embedding
    * space, so modern pipelines ALSO filter on best-eval-similarity.
    * Per corpus vector: max cosine against the (k-bounded, broadcast)
    * eval-query set, keep = best < [[SemDecontamTau]]. Scale shape:
    * the eval side is fixed and tiny, so the k dots per vector run
    * map-side on the corpus scan (the [[rangeSearch]] shape) and the
    * per-vector max is a partial aggregate — map-side combine collapses
    * the k scored rows before the only shuffle, which carries one row
    * per corpus vector. Thresholding happens on the UNROUNDED max (the
    * RangeTau discipline): both engines compute bit-identical doubles,
    * so the τ comparison can never straddle the rounding.
    */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    // the eval queries collect into ONE broadcast array and the
    // per-corpus-row max cosine is a pure map (argBestCosine picks the
    // winner, its score recomputed via element_at on the identical
    // dot/divide doubles) — the old crossJoin(×queries) +
    // groupBy(max) fanned the corpus ×|eval| into an aggregate
    // exchange for a value that is a function of the row alone (r20,
    // the assignCells pattern; same fixture-exact values, oracle-green)
    val qArr = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("qid"), $"embedding".as("qe"), $"nrm".as("qn"))
      .agg(array_sort(collect_list(struct($"qid", $"qe", $"qn"))).as("qs"))
      .select(
        transform($"qs", q => q("qe")).as("qes"),
        transform($"qs", q => q("qn")).as("qns")
      )
    emb
      .filter($"vec_id" >= NumQueries)
      .crossJoin(broadcast(qArr))
      .withColumn(
        "bi",
        graft.functions.VectorExpressions.argBestCosine($"qes", $"qns", $"embedding", $"nrm")
      )
      // parity with the crossJoin form: no eval queries → no rows
      .filter($"bi" >= 0)
      .withColumn(
        "mx",
        dot(element_at($"qes", $"bi" + 1), $"embedding") /
          (element_at($"qns", $"bi" + 1) * $"nrm")
      )
      .select(
        $"vec_id",
        round($"mx", 6).as("max_eval_cos"),
        when($"mx" >= SemDecontamTau, 0L).otherwise(1L).as("keep")
      )
      .orderBy($"vec_id")
  }

  /** RRF constant (Cormack et al. 2009's k=60) and per-source list depth
    * for [[hybridRerank]].
    */
  val HybridRrfK = 60L
  val HybridListK = 20
  val HybridQueryVec = 0L // the semantic query: vec 0's embedding

  /** Hybrid retrieval — reciprocal-rank fusion of the two ranking
    * families the engine already serves: the LEXICAL list (BM25 top-K
    * against the fixed query terms, `text_bm25`'s exact ranking) and
    * the SEMANTIC list (exact cosine top-K against the query vector).
    * rrf(d) = Σ 1/(k + rank_src(d)) over the sources that ranked d —
    * the standard zero-tuning fusion behind production hybrid search
    * (lexical recall + semantic recall disagree exactly where fusion
    * helps). Scale shape: each source list is already K-bounded by its
    * own TakeOrdered plan, so fusion is a full-outer join of two K-row
    * frames plus integer-rank arithmetic — cost lives in the sources,
    * which keep their individually-pinned 100 TB shapes. The doc↔vector
    * correspondence is id equality (vec_id k embeds doc k), the
    * fixture's convention.
    */
  def hybridRerank(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // lexical list off the DURABLE lexical index (identical ranking,
    // serve-path cost: stored narrow postings, no corpus re-scan)
    val lex = graft.text.TextAnalysis
      .bm25Append(spark, dir)
      .select($"doc_id", $"rank".as("lex_rank"))
    val emb = corpusWithNorm(spark, dir)
    val q = emb
      .filter($"vec_id" === HybridQueryVec)
      .select($"embedding".as("qe"), $"nrm".as("qn"))
    val semTop = emb
      .filter($"vec_id" =!= HybridQueryVec)
      .crossJoin(broadcast(q))
      .withColumn("cosine", dot($"qe", $"embedding") / ($"qn" * $"nrm"))
      .orderBy($"cosine".desc, $"vec_id")
      .limit(HybridListK)
    val sem = withRankLimited(semTop, "sem_rank", $"cosine", $"vec_id")
      .select($"vec_id".as("doc_id"), $"sem_rank")
    rrfFuse(lex, sem)
  }

  /** The 100 TB form of [[hybridRerank]]: the SAME RRF fusion, but the
    * semantic list comes from the IVF-PQ index ([[Pq.ivfPqNeighbors]])
    * instead of an exact whole-corpus cosine scan. The exact source
    * scores every vector per query — linear in the corpus — while the
    * IVF-PQ source touches only the probed inverted lists at 6
    * code-bytes/vector plus a fixed `PqRefine`-row exact tail, so the
    * benched hybrid path inherits the index's bounded-scan trend
    * (sim_ivf_pq's pinned shape) rather than the exact scan's. Fusion
    * itself is unchanged: a full-outer join of two K-row frames. The
    * lexical side stays exact BM25 (already one bounded map pass).
    */
  def hybridRerankPq(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    // both sources read persisted artifacts: PQ tables for the
    // semantic list, the durable lexical index for BM25
    val lex = graft.text.TextAnalysis
      .bm25Append(spark, dir)
      .select($"doc_id", $"rank".as("lex_rank"))
    val sem = Pq.ivfPqNeighbors(spark, dir, HybridQueryVec, HybridListK)
    rrfFuse(lex, sem)
  }

  /** MMR shape constants (Carbonell & Goldstein 1998): pool depth,
    * picks, and the λ / (1−λ) weights as EXPLICIT literals — both
    * engines must parse the same decimal text (computing `1 - 0.7` in
    * doubles yields 0.30000000000000004, which would diverge from the
    * oracle's literal 0.3).
    */
  val MmrPool = 20
  val MmrSelect = 5
  val MmrLambda = 0.7
  val MmrPenaltyW = 0.3

  /** Maximal-marginal-relevance diversification — the re-rank between
    * retrieval and the user that every production vector stack runs so
    * five near-identical neighbors don't fill the page: greedily pick
    * argmax λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) from the top-
    * [[MmrPool]] candidate pool. Scale shape: the pool comes from the
    * bounded TopKByCosine aggregator (each partition ships its local
    * top-K per query — the pinned 100 TB source), candidate embeddings
    * ride back via ONE broadcast join against the corpus scan, and the
    * greedy runs inside flatMapGroups with state bounded by
    * MmrPool × dim per query, parallel across queries — O(S²·K) dot
    * products each (≤2.5k at S=5, K=20), never a corpus pass.
    * Determinism: the pool is a
    * total order (cosine desc, id), penalties/scores are the same IEEE
    * double ops the oracle's left-fold dot replays bit-identically,
    * and argmax ties break by cand_id.
    */
  def mmrDiversify(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = corpusWithNorm(spark, dir)
    val queries = emb
      .filter($"vec_id" < NumQueries)
      .select($"vec_id".as("query_id"), $"embedding".as("qe"), $"nrm".as("qn"))
    val scored = emb
      .join(broadcast(queries), $"vec_id" =!= $"query_id")
      .select(
        $"query_id".as[Long],
        struct(
          $"vec_id".as("neighbor_id"),
          (dot($"qe", $"embedding") / ($"qn" * $"nrm")).as("cosine")
        ).as[Scored]
      )
    val pool = scored
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new TopKByCosine(MmrPool).toColumn)
      .flatMap { case (qid, top) => top.map(s => (qid, s.neighbor_id, s.cosine)) }
      .toDF("query_id", "cand_id", "rel")
    val withVec = emb
      .select($"vec_id".as("cand_id"), $"embedding".as("ce"), $"nrm".as("cn"))
      .join(broadcast(pool), "cand_id")
      .select(
        $"query_id".as[Long],
        $"cand_id".as[Long],
        $"rel".as[Double],
        $"ce".as[Array[Float]],
        $"cn".as[Double]
      )
    withVec
      .groupByKey(_._1)
      .flatMapGroups { (qid: Long, it: Iterator[(Long, Long, Double, Array[Float], Double)]) =>
        // left-fold double dot — the accumulation order the oracle's
        // list_reduce replays bit-identically
        def fdot(a: Array[Float], b: Array[Float]): Double = {
          var acc = 0.0
          var i = 0
          while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
          acc
        }
        def r6(x: Double): Double = math.floor(x * 1e6 + 0.5) / 1e6
        val remaining = scala.collection.mutable.ArrayBuffer(
          it.toArray.sortBy(c => (-c._3, c._2)): _*
        )
        val selected =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Double, Array[Float], Double, Double)]
        while (selected.length < MmrSelect && remaining.nonEmpty) {
          var bestIdx = 0
          var bestScore = Double.NegativeInfinity
          var i = 0
          while (i < remaining.length) {
            val c = remaining(i)
            var pen = 0.0
            var j = 0
            while (j < selected.length) {
              val s = selected(j)
              val sim = fdot(c._4, s._3) / (c._5 * s._4)
              if (j == 0 || sim > pen) pen = sim
              j += 1
            }
            val score = MmrLambda * c._3 - MmrPenaltyW * pen
            if (score > bestScore || (score == bestScore && c._2 < remaining(bestIdx)._2)) {
              bestScore = score
              bestIdx = i
            }
            i += 1
          }
          val b = remaining.remove(bestIdx)
          selected += ((b._2, b._3, b._4, b._5, bestScore))
        }
        selected.zipWithIndex.map { case ((cid, rel, _, _, mmr), k) =>
          (qid, (k + 1).toLong, cid, r6(rel), r6(mmr))
        }
      }
      .toDF("query_id", "pick", "cand_id", "rel", "mmr_score")
      .orderBy($"query_id", $"pick")
  }

  /** Shared RRF tail: rrf(d) = Σ 1/(k + rank_src(d)) over the sources
    * that ranked d (missing source → 0), fused total order
    * (score desc, doc_id). Inputs are K-row (doc_id, *_rank) frames —
    * the join is trivially small whatever corpus produced the lists.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame): DataFrame = {
    val spark = lex.sparkSession
    import spark.implicits._
    def rrfTerm(rank: org.apache.spark.sql.Column) =
      coalesce(lit(1.0) / (rank + lit(HybridRrfK)).cast("double"), lit(0.0))
    // ≤2K rows after the K∪K full-outer join — the bounded-frame rank
    val fused = lex
      .join(sem, Seq("doc_id"), "full_outer")
      .withColumn(
        "rrf_score",
        graft.text.TextAnalysis.round6(rrfTerm($"lex_rank") + rrfTerm($"sem_rank"))
      )
    withRankLimited(fused, "fused_rank", $"rrf_score", $"doc_id")
      .select($"doc_id", $"lex_rank", $"sem_rank", $"rrf_score", $"fused_rank")
      .orderBy($"fused_rank")
  }
}
