package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization for ANN search (Jégou, Douze, Schmid, "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011 — the FAISS
  * `IndexPQ` scheme): split the `dim`-dimensional space into `m` orthogonal
  * subspaces of dim/m dimensions, k-means each subspace into `ksub`
  * codewords, and store every vector as `m` small codes — a ×(32·dim /
  * (m·log2 ksub)) compression (64-dim float → 8 bytes here). Query scoring
  * is asymmetric distance computation (ADC): per query, one distance table
  * of m·ksub entries; a vector's approximate distance is m table lookups
  * and adds, never a touch of the original floats.
  *
  * Why this is the 100 TB ANN path: the encoded corpus is ~4 GB per billion
  * vectors (vs 256 GB raw), so the scan that brute-force cosine cannot
  * afford becomes a cache-resident integer pipeline; and encode/score are
  * both zero-shuffle row-local expressions, so the only exchange in a top-k
  * query is the final per-query aggregation. Composes with the coarse
  * quantizers already here — restrict `codes` to the query's
  * [[Similarity]] LSH bucket or [[KMeans]] IVF cells before scoring to get
  * IVF-PQ.
  *
  * Determinism (the k-means playbook, applied twice):
  *   - codebooks come from [[KMeans.fit]] (first-k-by-id seeds, 1e-9
  *     centroid grid, argmin ties to the lowest cell);
  *   - encode argmins compare ROUNDED (1e-6) per-subspace distances via
  *     `array_position(d, array_min(d))` — first index wins ties, and the
  *     distance expressions are fixed-order row-local folds, so the code of
  *     a vector is identical under any partitioning;
  *   - ADC tables quantize to integer 1e-6 units on the driver, so the
  *     per-vector score is an exact integer sum — order-independent.
  */
object Pq {

  /** `words(s)(w)` = codeword `w` of subspace `s`, length dim/m. */
  final case class Codebooks(dim: Int, m: Int, ksub: Int,
                             words: IndexedSeq[IndexedSeq[IndexedSeq[Double]]]) {
    def sub: Int = dim / m
  }

  /** Default training-sample cap: codebooks are O(m·ksub·sub) statistics,
    * not data, and converge on a bounded sample — capping fit cost is the
    * difference between O(m·iters·sampleCap) and m·iters full passes over a
    * billion-vector corpus.
    */
  val DefaultSampleCap: Int = 65536
  private val SampleSeed = 173L

  /** Train the m sub-codebooks — m independent [[KMeans.fit]] runs over
    * array slices of a deterministic training sample (the FAISS `train()`
    * posture: codebooks from a sample, encode over everything).
    *
    * The sample is the first `sampleCap` rows by salted id-hash with id
    * tie-break — a per-partition top-k (TakeOrderedAndProject), never a
    * global sort — cached once so the m·iters k-means passes scan
    * O(sampleCap) rows instead of the corpus. A corpus at or under the cap
    * trains on every row in a content-independent order, and [[KMeans.fit]]
    * seeds by smallest id regardless of row order, so sub-cap fits are
    * bit-identical to the historical full-corpus fit.
    */
  def fit(corpus: DataFrame, idCol: String, embCol: String,
          dim: Int, m: Int, ksub: Int, iters: Int,
          sampleCap: Int = DefaultSampleCap): Codebooks = {
    require(dim % m == 0, s"dim=$dim must divide into m=$m subspaces")
    require(sampleCap >= ksub,
      s"sampleCap=$sampleCap cannot seed ksub=$ksub codewords")
    val sub = dim / m
    val x = corpus.select(col(idCol).as("vec_id"),
      col(embCol).cast("array<double>").as("x"))
      .orderBy(graft.functions.Hashes.mulHash(col("vec_id"), SampleSeed),
        col("vec_id"))
      .limit(sampleCap)
      .persist()
    try {
      val words = (0 until m).map { s0 =>
        val sliced = x.select(col("vec_id"),
          slice(col("x"), s0 * sub + 1, sub).as("xs"))
        val (_, cents) = KMeans.fit(sliced, "vec_id", "xs", sub, ksub, iters)
        cents.orderBy("cluster").collect()
          .map(_.getSeq[Double](1).toIndexedSeq).toIndexedSeq
      }
      Codebooks(dim, m, ksub, words)
    } finally { x.unpersist(false); () }
  }

  /** Encode every vector as its m nearest-codeword indices — one row-local
    * codegen'd expression ([[graft.functions.VectorExprs.PqEncodeExpr]]):
    * zero shuffle, one fused loop, the codebook a reference object. Argmins
    * compare on the 1e-6 integer grid with lowest-index ties, so codes are
    * identical under any partitioning. Returns (vec_id, code: array<int>
    * length m).
    */
  def encode(corpus: DataFrame, idCol: String, embCol: String,
             cb: Codebooks): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val flat = cb.words.flatMap(_.flatMap(identity)).toArray
    val code = GraftColumnBridge.column(graft.functions.VectorExprs.PqEncodeExpr(
      GraftColumnBridge.expression(col(embCol)), cb.m, cb.ksub, flat))
    corpus.select(col(idCol).as("vec_id"), code.as("code"))
  }

  /** ADC lookup tables for a literal query set, quantized to integer 1e-6
    * units on the driver: one row per (query, subspace, codeword) with the
    * exact squared distance between the query's subvector and the codeword.
    * nq·m·ksub rows — broadcast-sized by construction.
    */
  def adcTables(spark: SparkSession, queries: Seq[(Long, Seq[Double])],
                cb: Codebooks): DataFrame = {
    import spark.implicits._
    val rows = for {
      (qid, qv) <- queries
      s0 <- 0 until cb.m
      (cw, w) <- cb.words(s0).zipWithIndex
    } yield {
      var d2 = 0.0
      var i = 0
      while (i < cb.sub) {
        val d = qv(s0 * cb.sub + i) - cw(i); d2 += d * d; i += 1
      }
      (qid, s0, w, math.round(d2 * 1e6))
    }
    rows.toDF("qid", "s", "w", "d_e6")
  }

  /** Approximate top-k by ADC: explode each code to (vec_id, s, w), join the
    * broadcast tables, sum the integer partial distances per (query,
    * vector), rank ascending with vec_id tie-break. One exchange (the
    * per-query aggregation); the top-k window prunes via WindowGroupLimit.
    */
  def adcTopK(codes: DataFrame, tables: DataFrame, k: Int,
              excludeSelf: Boolean = false): DataFrame = {
    val exploded = codes.select(col("vec_id"),
      posexplode(col("code")).as(Seq("s", "w")))
    rankAdc(exploded.join(broadcast(tables), Seq("s", "w"))
      .groupBy("qid", "vec_id")
      .agg(sum("d_e6").as("adc_e6")), k, excludeSelf)
  }

  /** The ranking tail [[adcTopK]] and [[ivfAdcTopK]] share over the
    * per-(qid, vec_id) `adc_e6` sums.
    */
  private def rankAdc(all: DataFrame, k: Int, excludeSelf: Boolean): DataFrame = {
    // when queries are corpus members, drop the trivial self-match BEFORE
    // ranking so rank 1 is the nearest OTHER vector
    val scored = if (excludeSelf) all.where(col("vec_id") =!= col("qid")) else all
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy("qid").orderBy(col("adc_e6"), col("vec_id"))))
      .where(col("rank") <= k)
      .select(col("qid").as("query_id"), col("rank"),
        col("vec_id").as("neighbor_id"),
        round(col("adc_e6").cast("double") / 1e6, 6).as("adc_d2"))
  }

  /** Driver-side probe-cell selection for IVF-PQ: the `nprobe` coarse cells
    * nearest each query, by the SAME quantized-distance + lowest-cell
    * tie-break rule [[KMeans.fit]]'s assign step uses — O(nq·kc·dim) driver
    * arithmetic over the collected O(kc·dim) centroid statistics.
    */
  def probeCells(queries: Seq[(Long, Seq[Double])],
                 centroids: Seq[(Long, Seq[Double])],
                 nprobe: Int): Seq[(Long, Long)] =
    queries.flatMap { case (qid, qv) =>
      centroids.map { case (c, cv) =>
        var d2 = 0.0
        var i = 0
        while (i < qv.length) { val d = qv(i) - cv(i); d2 += d * d; i += 1 }
        (c, Math.round(d2 * 1e6))
      }.sortBy { case (c, q) => (q, c) }.take(nprobe).map(p => (qid, p._1))
    }

  /** IVF-PQ: [[adcTopK]] restricted to each query's probed coarse cells —
    * the FAISS IndexIVFPQ shape. `codes` must carry a `cluster` column (the
    * coarse [[KMeans]] assignment); `probes` is the (qid, cluster) relation
    * from [[probeCells]], broadcast onto the code stream BEFORE the
    * per-query aggregation, so the scored universe shrinks from N·nq to
    * N·nprobe/kc on average — the knob that keeps billion-vector search at
    * interactive cost.
    */
  def ivfAdcTopK(codes: DataFrame, tables: DataFrame, probes: DataFrame,
                 k: Int, excludeSelf: Boolean = false): DataFrame = {
    val exploded = codes.select(col("vec_id"), col("cluster"),
      posexplode(col("code")).as(Seq("s", "w")))
    rankAdc(exploded.join(broadcast(tables), Seq("s", "w"))
      .join(broadcast(probes), Seq("cluster", "qid"))
      .groupBy("qid", "vec_id")
      .agg(sum("d_e6").as("adc_e6")), k, excludeSelf)
  }

  /** Exact re-rank of an ADC shortlist — the standard PQ search shape
    * (shortlist by compressed codes, then true distances for the few
    * survivors). The shortlist (nq·k rows) broadcasts to the corpus scan,
    * so the raw vectors are touched by a narrow semi-join pass, never
    * shuffled; the final window ranks nq·k rows. `queries` is
    * (qid, qv array<double>).
    */
  def rerank(shortlist: DataFrame, corpus: DataFrame, idCol: String,
             embCol: String, queries: DataFrame, k: Int): DataFrame = {
    val cand = corpus
      .select(col(idCol).as("neighbor_id"),
        col(embCol).cast("array<double>").as("nx"))
      .join(broadcast(shortlist.select(col("query_id"), col("neighbor_id"))),
        "neighbor_id")
      .join(broadcast(queries), col("query_id") === col("qid"))
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.Tensors.distSq(col("nx"), col("qv")), 6).as("d2"))
    cand
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("d2"), col("neighbor_id"))))
      .where(col("rank") <= k)
  }
}
