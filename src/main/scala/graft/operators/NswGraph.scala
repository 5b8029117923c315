package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.{Hashes, Tensors}

/** Scale-safe k-NN graph construction for graph-based ANN (the build stage
  * of the NSW/HNSW family — Malkov & Yashunin, arXiv:1603.09320): candidate
  * edges come from sign-LSH band buckets (Charikar 2002 random-hyperplane
  * signatures), NEVER an all-pairs self-join, then each node keeps its
  * top-`deg` candidates by exact cosine.
  *
  * Shape: `bands` bands of `rbits` sign bits each; two vectors become an
  * edge CANDIDATE iff they agree on all bits of at least one band (an
  * equi-join on (band, signature)). P[single bit agrees] = 1 − θ/π for
  * angle θ, so a cos≈0.9 neighbor pair collides per band with ~p^rbits ≈
  * 0.85^6 ≈ 0.38 and across 12 bands with ~99.7% — near neighbors almost
  * surely become candidates while far pairs almost never do. Expected
  * candidate work per vector is bands × bucket-population; a hot bucket is
  * capped exactly like [[SemDedup]] cells: census per (band, sig), buckets
  * above `cap` split into ⌈size/cap⌉ hash sub-cells, pairwise work bounded
  * at ~cap²/2 per task with sub-cells landing on different tasks. At 100 TB
  * the knob is `rbits` (bucket population ~ n/2^rbits — grow rbits with
  * log n to hold the population constant) plus the cap as the skew
  * backstop; the declared price is the same as the LSH dedup cap — a pair
  * split across sub-cells of an over-capped bucket is not compared, and a
  * true neighbor that never shares a band (1 − p^rbits)^bands is missed.
  * Those misses cost graph QUALITY (recall is measured, not assumed —
  * q266), never correctness of the build contract.
  *
  * Determinism (the oracle replays every stage): hyperplane cells are ±1
  * Rademacher signs from the engine's salted multiplicative hash (the
  * [[RandomProjection]] posture — no RNG stream, any cell recomputable in
  * integer SQL); projections fold ascending-d from 0.0 in double; the sign
  * bit is `proj >= 0`; band signatures are integer bit-sums; cosines rank
  * on the 1e-6 round grid with id tie-break.
  */
object NswGraph {

  /** Salt for the over-cap sub-cell split (statable in the oracle). */
  val SubSalt = 93L

  /** Symmetrize a directed edge list — NSW links are undirected (Malkov &
    * Yashunin §4): a node must be reachable from ITS OWN neighbors, which
    * directed top-k edges don't guarantee.
    */
  def undirected(g: DataFrame): DataFrame =
    g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()

  /** Per-(vector, band) integer signatures: (vec_id, band, sig). One
    * codegen'd [[graft.functions.VectorExprs.LshBandSigsExpr]] pass per
    * row — no per-plane lambda dispatch, no explode+groupBy exchange.
    */
  def signatures(emb: DataFrame, idCol: String, embCol: String, dim: Int,
                 bands: Int, rbits: Int, seed: Long): DataFrame = {
    import org.apache.spark.sql.GraftColumnBridge
    val sigs = GraftColumnBridge.column(graft.functions.VectorExprs
      .LshBandSigsExpr(GraftColumnBridge.expression(col("__x")),
        bands, rbits, dim, seed))
    emb.select(col(idCol).as("vec_id"), col(embCol).as("__x"))
      .select(col("vec_id"), posexplode(sigs).as(Seq("band", "sig")))
      .select(col("vec_id"), col("band").cast("long").as("band"), col("sig"))
  }

  /** The pure-HOF signature formulation [[signatures]] replaces (kept for
    * the bit-equality test, exactly like Tensors.dotHof): per plane j an
    * ascending-d double fold of vec[d] · hash-sign(j, d), bits packed with
    * exact pow-of-two weights.
    */
  private[graft] def signaturesHof(emb: DataFrame, idCol: String,
                                   embCol: String, dim: Int, bands: Int,
                                   rbits: Int, seed: Long): DataFrame = {
    val lBits = bands * rbits
    def signCell(j: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
      when(Hashes.mulHash(j * 4096L + d, seed) % 2 === 0, lit(1.0d))
        .otherwise(lit(-1.0d))
    val bitArr = transform(sequence(lit(0), lit(lBits - 1)), j0 => {
      val j = j0.cast("long")
      val proj = aggregate(
        transform(sequence(lit(0), lit(dim - 1)),
          d => element_at(col("__x"), d + 1).cast("double")
            * signCell(j, d.cast("long"))),
        lit(0.0d), (a, p) => a + p)
      when(proj >= 0, 1L).otherwise(0L)
    })
    emb.select(col(idCol).as("vec_id"), col(embCol).as("__x"))
      .select(col("vec_id"), posexplode(bitArr).as(Seq("j", "bit")))
      .select(col("vec_id"), expr(s"j div $rbits").cast("long").as("band"),
        expr(s"j % $rbits").as("pos"), col("bit"))
      .groupBy("vec_id", "band")
      .agg(sum(col("bit") * pow(lit(2.0d), col("pos")).cast("long")).as("sig"))
  }

  /** Directed k-NN-graph edges (src, dst), ≤ `deg` per src, candidates from
    * capped LSH buckets only — the scan plan contains equi-joins and one
    * per-src window, nothing quadratic in the corpus.
    */
  def build(emb: DataFrame, idCol: String, embCol: String, dim: Int,
            bands: Int, rbits: Int, seed: Long, cap: Int,
            deg: Int): DataFrame = {
    require(cap >= 1 && deg >= 1)
    val sig = signatures(emb, idCol, embCol, dim, bands, rbits, seed)
    // bucket census is ≤ bands · 2^rbits rows — broadcast back, no extra
    // exchange on the data path (the SemDedup census posture)
    val cs = sig.groupBy("band", "sig").agg(count(lit(1)).as("bsize"))
    val sb = sig.join(broadcast(cs), Seq("band", "sig"))
      .withColumn("nsub", expr(s"(bsize + ${cap - 1}) div $cap"))
      .withColumn("sub", Hashes.mulHash(col("vec_id"), SubSalt) % col("nsub"))
      .select("band", "sig", "sub", "vec_id")
    val cand = sb.as("a").join(sb.as("b"), Seq("band", "sig", "sub"))
      .where(col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("ai"), col("b.vec_id").as("bi"))
      .distinct()
    val v = emb.select(col(idCol).as("vec_id"), col(embCol).as("x"),
      Tensors.norm(col(embCol)).as("nrm"))
    val va = v.select(col("vec_id").as("ai"), col("x").as("xa"), col("nrm").as("na"))
    val vb = v.select(col("vec_id").as("bi"), col("x").as("xb"), col("nrm").as("nb"))
    val scored = cand.join(va, "ai").join(vb, "bi")
      .select(col("ai"), col("bi"),
        round(Tensors.dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
          .as("cos"))
    val und = scored.select(col("ai").as("src"), col("bi").as("dst"), col("cos"))
      .unionByName(scored.select(col("bi").as("src"), col("ai").as("dst"),
        col("cos")))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    und.withColumn("rn", row_number().over(w)).where(col("rn") <= deg)
      .select("src", "dst")
  }

  /** [[build]] then `rounds` of NN-descent refinement (Dong et al.,
    * WWW 2011): each round's candidates are the UNDIRECTED current edges
    * plus their two-hop compositions (an equi-join of the edge list with
    * itself — O(n · (2k)²) pairs, linear in the corpus), re-scored exactly
    * and re-pruned to the top `kInternal` per node; the final graph keeps
    * `deg`. The wide internal degree is what makes descent converge on
    * weakly-clustered data (kInternal = 2·deg recovers ~96% of the exact
    * top-deg edges on the near-random fixture in 2 rounds, vs a ~72%
    * plateau at kInternal = deg). Every stage is equi-joins + one per-src
    * window; nothing quadratic in the corpus anywhere.
    */
  def buildRefined(emb: DataFrame, idCol: String, embCol: String, dim: Int,
                   bands: Int, rbits: Int, seed: Long, cap: Int,
                   kInternal: Int, rounds: Int, deg: Int): DataFrame =
    refine(emb, idCol, embCol,
      build(emb, idCol, embCol, dim, bands, rbits, seed, cap, kInternal)
        .localCheckpoint(),
      kInternal, rounds, deg)

  /** The NN-descent round loop on its own, applicable to ANY existing
    * graph — [[buildRefined]] runs it over a fresh LSH seed, and as a
    * standalone it is the periodic REFRESH a maintained index schedules:
    * q298 measures chained upserts decaying ~1.2 recall points per batch;
    * one refresh round (no re-bucketing, no signature recompute — just
    * descent over the current edges) buys the quality back at a fraction
    * of a rebuild's cost (q299 measures exactly how much).
    */
  def refine(emb: DataFrame, idCol: String, embCol: String, g0: DataFrame,
             kInternal: Int, rounds: Int, deg: Int): DataFrame = {
    require(rounds >= 1 && kInternal >= deg)
    val v = emb.select(col(idCol).as("vec_id"), col(embCol).as("x"),
      Tensors.norm(col(embCol)).as("nrm"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    var g = g0
    var scored: DataFrame = null
    for (_ <- 1 to rounds) {
      // Exchange-riding layout (guide §2.4 "two operations keyed the same
      // way can share one exchange"): und's dedup rides an explicit hash
      // repartition on dst (hash(dst) clusters (src,dst), so the distinct
      // needs no second exchange — und's raw input is barely duplicated,
      // just the mutual edges), the x-side of the two-hop self-join reuses
      // that same dst layout, the dst-side vector join comes FIRST, and
      // joining the src side LAST leaves `scored` hash-clustered by src —
      // exactly what the top-k window requires, so the window (and the
      // final prune, via the checkpoint's preserved partitioning) adds no
      // exchange. Same rows, same deterministic ranking; only exchange
      // placement moves.
      val und = g.unionByName(
        g.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst")).distinct()
      val twoHop = und.as("x").join(und.as("y"), col("x.dst") === col("y.src"))
        .select(col("x.src").as("src"), col("y.dst").as("dst"))
        .where(col("src") =!= col("dst"))
      // cand keeps the planner's own distinct (two-hop compositions carry a
      // high duplicate factor, so the map-side partial dedup below that
      // exchange is worth more than saving it — measured: riding the dedup
      // on a raw repartition grew shuffle records ~30%); the dst-first join
      // below then provides the hash(dst) exchange the vector join needs
      val cand = und.unionByName(twoHop).distinct()
      scored = cand
        .join(v.select(col("vec_id").as("dst"), col("x").as("ye"),
          col("nrm").as("yn")), "dst")
        .join(v.select(col("vec_id").as("src"), col("x").as("xe"),
          col("nrm").as("xn")), "src")
        .select(col("src"), col("dst"),
          round(Tensors.dot(col("xe"), col("ye")) / (col("xn") * col("yn")), 6)
            .as("cos"))
        .localCheckpoint() // round plans must not nest
      g = scored.withColumn("rn", row_number().over(w))
        .where(col("rn") <= kInternal).select("src", "dst")
    }
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= deg).select("src", "dst")
  }

  /** Incremental index maintenance — the operation a daily-refreshed
    * 100 TB corpus needs (a full rebuild per batch is the one thing it
    * cannot afford): link a NEW batch of vectors into an existing k-NN
    * graph without touching unaffected neighborhoods.
    *
    *   1. Candidates for each new vector come from the SAME sign-LSH band
    *      buckets as [[build]] (census over the combined corpus signatures,
    *      the same over-cap sub-split) — an equi-join of the small new
    *      side's band rows against the corpus band index, never a scan of
    *      pairs. Intra-batch pairs surface in both orders automatically.
    *   2. Each new vector keeps its top-`deg` candidates by exact cosine
    *      (1e-6 grid, id ties) — its out-edges.
    *   3. Each AFFECTED base vector (one with ≥ 1 new candidate) re-ranks
    *      its existing out-edges together with its new candidates and
    *      re-prunes to `deg` — the local repair that lets new content
    *      become REACHABLE (the undirected walk traverses these reverse
    *      links). Unaffected vectors' edges pass through untouched.
    *
    * Work per batch: signature compute for the batch, one band-bucket
    * equi-join against the corpus signature relation (in production that
    * relation is persisted next to the graph — pass it via `allSigs` to
    * skip recompute), and re-scoring only over affected neighborhoods —
    * nothing quadratic, nothing proportional to corpus × batch. Quality is
    * measured, not assumed: q290 walks the upserted graph under the q260
    * recall harness against a from-scratch rebuild.
    */
  def upsert(baseEmb: DataFrame, newEmb: DataFrame, baseGraph: DataFrame,
             idCol: String, embCol: String, dim: Int, bands: Int, rbits: Int,
             seed: Long, cap: Int, kInternal: Int, deg: Int,
             allSigs: Option[DataFrame] = None): DataFrame = {
    require(cap >= 1 && deg >= 1 && kInternal >= deg)
    val allEmb = baseEmb.select(col(idCol), col(embCol))
      .unionByName(newEmb.select(col(idCol), col(embCol)))
    val sig = allSigs.getOrElse(
      signatures(allEmb, idCol, embCol, dim, bands, rbits, seed))
    val cs = sig.groupBy("band", "sig").agg(count(lit(1)).as("bsize"))
    val sb = sig.join(broadcast(cs), Seq("band", "sig"))
      .withColumn("nsub", expr(s"(bsize + ${cap - 1}) div $cap"))
      .withColumn("sub", Hashes.mulHash(col("vec_id"), SubSalt) % col("nsub"))
      .select("band", "sig", "sub", "vec_id")
    val newIds = newEmb.select(col(idCol).as("vec_id"))
    val sbN = sb.join(broadcast(newIds), Seq("vec_id"))
    // join order (guide §2.4): the oi-side vector join comes FIRST (its
    // exchange lands on the deduped pairs), and the ni side joins LAST so
    // `scored` leaves hash-clustered by ni — the new-edge prune's window
    // key — and that window adds no exchange. Same rows, same
    // deterministic ranking; only exchange placement moves. (Band
    // candidates carry a high cross-band duplicate factor, so the dedup
    // keeps the planner's own distinct with its map-side partial phase.)
    val cand = sbN.as("a").join(sb.as("b"), Seq("band", "sig", "sub"))
      .where(col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("ni"), col("b.vec_id").as("oi"))
      .distinct()
    val v = allEmb.select(col(idCol).as("vec_id"), col(embCol).as("x"),
      Tensors.norm(col(embCol)).as("nrm"))
    val scored = cand
      .join(v.select(col("vec_id").as("oi"), col("x").as("xb"),
        col("nrm").as("nb")), "oi")
      .join(v.select(col("vec_id").as("ni"), col("x").as("xa"),
        col("nrm").as("na")), "ni")
      .select(col("ni"), col("oi"),
        round(Tensors.dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .persist() // feeds the new-edge prune AND the reverse repair
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    // the buildRefined insight carries over: link and refine at the WIDE
    // internal degree, prune to `deg` only at the very end — descent over
    // a deg-width neighborhood plateaus well short of the rebuilt graph
    val newScored = scored
      .select(col("ni").as("src"), col("oi").as("dst"), col("cos"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= kInternal)
      .select("src", "dst", "cos")
    // reverse candidates: base → new only (intra-batch reverses are
    // already in `scored` under the other order)
    val rev = scored
      .join(broadcast(newIds).withColumnRenamed("vec_id", "oi"),
        Seq("oi"), "left_anti")
      .select(col("oi").as("src"), col("ni").as("dst"), col("cos"))
    val aff = rev.select("src").distinct()
    // Exchange-riding repair scoring (guide §2.4, the §2.2 layout): the
    // old shape scored the affected base edges on their own (src-side
    // vector join first, dst-side last) and UNIONED the already-scored
    // reverse candidates in — and a union's output partitioning is
    // unknown, so the per-src re-prune window re-exchanged the whole
    // repair relation (corpus-scale in the affected neighborhoods).
    // Instead union the bare PAIRS first and score once through the
    // standard dst-then-src join order: the src-side vector join comes
    // LAST, the window rides its hash(src) layout, and the union pays no
    // exchange of its own. rev rows re-derive their cosine through the
    // same joins — dotData's ascending-d fold is argument-symmetric
    // (IEEE multiply commutes bit-exactly), so round(dot(x_oi, x_ni)
    // / (n_oi · n_ni), 6) is bit-identical to the persisted scored value
    // they previously carried through the union.
    // aff is batch-bounded (affected srcs ⊆ the batch's candidate
    // neighborhoods) — the same contract class as the newIds broadcasts
    // above, so pin it: the corpus-scale baseGraph side reaches the union
    // with no exchange at any scale.
    val repairPairs = baseGraph.join(broadcast(aff), Seq("src"), "left_semi")
      .unionByName(rev.select("src", "dst"))
    val repruned = repairPairs
      .join(v.select(col("vec_id").as("dst"), col("x").as("xb"),
        col("nrm").as("nb")), "dst")
      .join(v.select(col("vec_id").as("src"), col("x").as("xa"),
        col("nrm").as("na")), "src")
      .select(col("src"), col("dst"),
        round(Tensors.dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
          .as("cos"))
      .withColumn("rn", row_number().over(w)).where(col("rn") <= kInternal)
      .select("src", "dst", "cos")
      .persist() // walked by refine AND pruned into the final graph
    val unchanged = baseGraph.join(broadcast(aff), Seq("src"), "left_anti")
    // two local NN-descent rounds for the new nodes over the wide graph —
    // round 2 walks the edges round 1 discovered (the buildRefined round
    // structure, restricted to the batch's neighborhoods).
    // Checkpoints are NEIGHBORHOOD-RESTRICTED (r14 verdict #2): the wide
    // graph's only piece that CHANGES between rounds is newWide (batch ×
    // kInternal rows), so the FIXED part (unchanged ∪ repruned — the
    // corpus-scale bulk) checkpoints ONCE, round 1's delta checkpoints on
    // its own (round 2 probes it four ways), and round 2's delta stays
    // LAZY — its single consumer is the final prune, exactly the old
    // structure's exposure (callers persist/checkpoint the returned
    // graph). The old per-round full-union localCheckpoint re-materialized
    // the corpus-scale bulk once per round. Probe-measured at the bench
    // scale (warm reps, same box, minutes apart): this shape 8.2 s
    // upsert+materialize vs 8.8 s for the old double full-checkpoint;
    // checkpointing round 2's delta too costs 10.4 s (an extra
    // materialization the final prune re-reads); leaving the fixed part
    // entirely lazy is far worse (the four probes re-run the unchanged
    // anti-join as real shuffles inside every round's job — +70 % wall,
    // +0.7 M shuffle records); checkpointing `unchanged` alone instead of
    // the union races repruned's first cache materialization across the
    // four probes (refine round 3×). Cross-round plan nesting is still
    // broken: the recursive dependency is newWide, and every newWide a
    // LATER round probes is checkpointed. Checkpoint placement is an
    // execution detail over deterministic stages: results bit-identical.
    val fixedWide = unchanged
      .unionByName(repruned.select("src", "dst"))
      .localCheckpoint() // refine probes it four ways; plans must not nest
    var newWide = newScored.localCheckpoint()
    for (r <- 1 to 2) {
      val wide = fixedWide.unionByName(newWide.select("src", "dst"))
      val refined = localRefine(wide, v, newIds, kInternal)
      newWide = if (r < 2) refined.localCheckpoint() else refined
    }
    def prune(sc: DataFrame): DataFrame = sc
      .withColumn("rn", row_number().over(w)).where(col("rn") <= deg)
      .select("src", "dst")
    unchanged
      .unionByName(prune(repruned))
      .unionByName(prune(newWide))
  }

  /** Upsert-vs-refresh-vs-rebuild policy constants, priced by the measured
    * maintenance harnesses rather than guessed:
    *   - [[upsert]] BROADCASTS the batch id set and repairs only affected
    *     neighborhoods — sound when the batch is a small fraction of the
    *     corpus, a wrong call at scale broadcasts a corpus-sized "batch".
    *     Batches at or above [[UpsertMaxRatioPct]] percent of the corpus
    *     are rebuilds.
    *   - q298 measures chained-upsert decay (recall 96.0 % after one batch
    *     → 91.0 % after 8 unrefreshed batches, ≈ 0.6 pt per batch); q299
    *     measures that ONE local-refine refresh pass recovers to 95.5 % at
    *     a fraction of rebuild cost — so every [[RefreshEveryBatches]]-th
    *     consecutive upsert carries a refresh.
    */
  val UpsertMaxRatioPct: Int = 25
  val RefreshEveryBatches: Int = 4

  final case class MaintenancePolicy(upsertMaxRatioPct: Int,
                                     refreshEveryBatches: Int,
                                     decayPpmPerBatch: Long)

  /** Re-price the maintenance constants from MEASURED decay/recovery
    * relations — a deployment runs its own q298/q299-shaped harnesses on
    * its own corpus and feeds the results here instead of trusting the
    * fixture-priced defaults ([[UpsertMaxRatioPct]]/[[RefreshEveryBatches]]
    * were derived from exactly this data at fixture scale).
    *
    * @param decay    (batch_pct: long, recall_ppm: long) — one row per
    *                 chained unrefreshed upsert in the q298 harness:
    *                 the batch's size as a percent of the pre-batch corpus
    *                 and the mean recall@k measured after it. Ordered
    *                 rows; the last is the most-decayed floor.
    * @param recovery (recall_ppm: long) — 1 row, mean recall after ONE
    *                 refresh pass on the most-decayed graph (q299).
    * @param rebuildRecallPpm mean recall of a one-shot full rebuild at the
    *                 final corpus size — the quality bar a refresh must
    *                 clear for the measured batch size to be licensed.
    *
    * Derivation (the constants' actual pricing logic, now executable):
    *   - the measured batch percent is LICENSED iff the single refresh
    *     recovers PAST the rebuild bar (q299's 95.5 % vs the rebuild's
    *     94.5 % is what licenses 25 % batches) — otherwise this throws
    *     and the deployment must re-measure with smaller batches;
    *   - upsertMaxRatioPct = that licensed batch percent;
    *   - refreshEveryBatches = 100 / pct — refresh once the batches since
    *     the last refresh could total one pre-epoch corpus ("upsert per
    *     batch, one refresh per epoch");
    *   - decayPpmPerBatch = endpoint slope of the measured chain, the
    *     observability number the policy's health checks alarm on.
    */
  def fitPolicy(decay: DataFrame, recovery: DataFrame,
                rebuildRecallPpm: Long): MaintenancePolicy = {
    val d = decay.select(col("batch_pct").cast("long"),
        col("recall_ppm").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    require(d.nonEmpty, "decay relation is empty — run the q298 harness")
    // The slope computation assumes ONE measured batch size: mixed-pct
    // decay rows would silently average unrelated curves.
    val pcts = d.map(_._1).distinct
    require(pcts.length == 1,
      s"decay relation mixes batch percents ${pcts.sorted.mkString(",")} — " +
        "fitPolicy prices ONE measured batch size per fit; group per pct")
    val rec = recovery.select(col("recall_ppm").cast("long"))
      .collect().map(_.getLong(0))
    require(rec.length == 1,
      s"recovery relation has ${rec.length} rows, expected exactly 1 " +
        "(the post-refresh recall measurement)")
    val recovered = rec.head
    val pct = pcts.head
    require(pct >= 1 && pct < 100,
      s"measured batch percent $pct out of the upsert regime")
    require(recovered >= rebuildRecallPpm,
      s"refresh recovers to $recovered ppm, below the rebuild bar " +
        s"$rebuildRecallPpm — a $pct% batch size is NOT licensed; " +
        "re-measure with smaller batches")
    val rate =
      if (d.length < 2) 0L
      else (d.head._2 - d.last._2) / (d.length - 1).toLong
    MaintenancePolicy(pct.toInt, (100L / pct).toInt, rate)
  }

  /** The policy decision for one arriving batch: `nCorpus` = indexed
    * vectors before this batch, `upsertsSinceRefresh` = consecutive plain
    * upserts since the last rebuild/refresh. Pure integer arithmetic so a
    * SQL oracle replays it (q436).
    */
  def maintenanceDecision(nBatch: Long, nCorpus: Long,
                          upsertsSinceRefresh: Long): String = {
    require(nBatch >= 0 && nCorpus >= 0 && upsertsSinceRefresh >= 0)
    if (nCorpus == 0L || nBatch * 100L >= nCorpus * UpsertMaxRatioPct)
      "rebuild"
    else if (upsertsSinceRefresh + 1 >= RefreshEveryBatches) "upsert_refresh"
    else "upsert"
  }

  /** [[upsert]] behind the policy's broadcast guard: counts both sides
    * (two count jobs — cheap next to the upsert itself) and REFUSES a
    * batch the policy prices as a rebuild, instead of silently
    * broadcasting it. The count is exact, not sampled: a wrong guard at
    * 100 TB is an executor-OOM class of failure.
    */
  def upsertChecked(baseEmb: DataFrame, newEmb: DataFrame,
                    baseGraph: DataFrame, idCol: String, embCol: String,
                    dim: Int, bands: Int, rbits: Int, seed: Long, cap: Int,
                    kInternal: Int, deg: Int,
                    allSigs: Option[DataFrame] = None): DataFrame = {
    val nB = newEmb.count()
    val nC = baseEmb.count()
    require(maintenanceDecision(nB, nC, 0L) != "rebuild",
      s"refusing upsert: batch of $nB vectors is >= $UpsertMaxRatioPct% of " +
        s"the $nC-vector corpus — upsert broadcasts the batch ids and " +
        "repairs locally; a corpus-sized batch is a rebuild " +
        "(NswGraph.buildRefined)")
    upsert(baseEmb, newEmb, baseGraph, idCol, embCol, dim, bands, rbits,
      seed, cap, kInternal, deg, allSigs)
  }

  /** One LOCAL NN-descent round for the NEW nodes only, over the WIDE
    * internal-degree graph: candidates per new node are its UNDIRECTED
    * neighbors plus their undirected neighbors (two hops, bounded by
    * (2·kInternal)² pairs per new node); edges by direction come from
    * broadcast semi-joins of the small frontier id sets against the edge
    * list — two edge-relation scans, zero wide shuffles, work bounded by
    * batch × kInternal². Returns the new nodes' re-ranked top-`kInternal`
    * out-edges WITH scores — the caller prunes to the final degree.
    */

  private def localRefine(g: DataFrame, v: DataFrame, newIds: DataFrame,
                          kInternal: Int): DataFrame = {
    val out1 = g.join(broadcast(newIds).withColumnRenamed("vec_id", "src"),
        Seq("src"))
      .select(col("src").as("n"), col("dst").as("m"))
    val in1 = g.join(broadcast(newIds).withColumnRenamed("vec_id", "dst"),
        Seq("dst"))
      .select(col("dst").as("n"), col("src").as("m"))
    val n1 = out1.unionByName(in1).distinct()
    val mIds = n1.select(col("m").as("vec_id")).distinct()
    val out2 = g.join(broadcast(mIds).withColumnRenamed("vec_id", "src"),
        Seq("src"))
      .select(col("src").as("m"), col("dst").as("t"))
    val in2 = g.join(broadcast(mIds).withColumnRenamed("vec_id", "dst"),
        Seq("dst"))
      .select(col("dst").as("m"), col("src").as("t"))
    val two = n1.join(out2.unionByName(in2).distinct(), "m")
      .select(col("n"), col("t").as("dst"))
      .where(col("n") =!= col("dst"))
    // same join-order layout as [[refine]]/[[upsert]]: dst-side vector
    // join first, n side LAST so the top-k window below rides the join's
    // hash(n) layout
    val cand = n1.select(col("n"), col("m").as("dst")).unionByName(two)
      .distinct()
    val scored = cand
      .join(v.select(col("vec_id").as("dst"), col("x").as("xb"),
        col("nrm").as("nb")), "dst")
      .join(v.select(col("vec_id").as("n"), col("x").as("xa"),
        col("nrm").as("na")), "n")
      .select(col("n").as("src"), col("dst"),
        round(Tensors.dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
          .as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    scored
      .withColumn("rn", row_number().over(w)).where(col("rn") <= kInternal)
      .select("src", "dst", "cos")
  }

  /** Deletion with local repair: drop every edge touching a deleted id,
    * then each node that LOST an out-edge tops back up to `deg` from the
    * standard repair candidate set — the deleted neighbors' own neighbors
    * (the two-hop detour around the hole), re-ranked together with its
    * surviving edges by exact cosine. Only affected neighborhoods are
    * rescored; `delIds` is broadcast and never joined wide.
    */
  def remove(emb: DataFrame, graph: DataFrame, delIds: DataFrame,
             idCol: String, embCol: String, deg: Int): DataFrame = {
    require(deg >= 1)
    val del = delIds.select(col(delIds.columns.head).as("vec_id"))
    val keptSrc = graph
      .join(broadcast(del).withColumnRenamed("vec_id", "src"),
        Seq("src"), "left_anti")
    val survivors = keptSrc
      .join(broadcast(del).withColumnRenamed("vec_id", "dst"),
        Seq("dst"), "left_anti")
      .select("src", "dst")
    // nodes that lost an out-edge to a deleted neighbor
    val aff = keptSrc
      .join(broadcast(del).withColumnRenamed("vec_id", "dst"), Seq("dst"),
        "left_semi")
      .select("src").distinct()
    // repair candidates: through the hole — src → (deleted d) → t
    val delOut = graph
      .join(broadcast(del).withColumnRenamed("vec_id", "src"), Seq("src"))
      .select(col("src").as("d"), col("dst").as("t"))
      .join(broadcast(del).withColumnRenamed("vec_id", "t"), Seq("t"),
        "left_anti")
    val detour = keptSrc
      .join(broadcast(del).withColumnRenamed("vec_id", "dst"), Seq("dst"),
        "left_semi")
      .select(col("src"), col("dst").as("d"))
      .join(delOut, "d")
      .where(col("src") =!= col("t"))
      .select(col("src"), col("t").as("dst"))
    val v = emb.select(col(idCol).as("vec_id"), col(embCol).as("x"),
      Tensors.norm(col(embCol)).as("nrm"))
    // same join-order layout as [[refine]]: dst-side vector join first,
    // src side LAST so the repair window rides the join's hash(src) layout.
    // aff is NOT pinned: it holds the in-neighbours of the deleted ids,
    // and in-degree is uncapped (one deleted hub can make it corpus-scale),
    // so the planner, or AQE from its runtime size, picks the strategy for
    // the semi/anti probes.
    val candAff = survivors.join(aff, Seq("src"), "left_semi")
      .unionByName(detour).distinct()
    val scored = candAff
      .join(v.select(col("vec_id").as("dst"), col("x").as("xb"),
        col("nrm").as("nb")), "dst")
      .join(v.select(col("vec_id").as("src"), col("x").as("xa"),
        col("nrm").as("na")), "src")
      .select(col("src"), col("dst"),
        round(Tensors.dot(col("xa"), col("xb")) / (col("na") * col("nb")), 6)
          .as("cos"))
    val w = Window.partitionBy("src").orderBy(col("cos").desc, col("dst"))
    val repaired = scored
      .withColumn("rn", row_number().over(w)).where(col("rn") <= deg)
      .select("src", "dst")
    survivors.join(aff, Seq("src"), "left_anti")
      .unionByName(repaired)
  }

  /** Vamana-style α-occlusion pruning (Subramanya et al., NeurIPS 2019 —
    * the robust-prune step that gives DiskANN graphs their long-range
    * DIVERSITY): per node u, walk its candidates best-first and keep c
    * only if NO already-kept neighbor k occludes it — occlusion in
    * similarity terms: α·(1 − cos(k, c)) ≤ (1 − cos(u, c)), i.e. some
    * kept neighbor is α-times closer to c than u is, so the edge u→c is
    * redundant (the walk can reach c through k). Plain top-deg keeps deg
    * near-duplicates of each other; α-pruning trades the closest few for
    * coverage of distinct directions, which is what long walks need.
    *
    * Deterministic and oracle-statable: cosines on the 1e-6 integer grid,
    * α as the rational alphaNum/alphaDen (default 6/5 = 1.2, the DiskANN
    * setting), candidates ordered (cos desc, id), the greedy fold run by
    * flatMapSortedGroups with O(deg) state. Work: candidate pair cosines
    * are per-node k×k (`wide` is the kInternal-degree graph), so the
    * whole prune is O(n·k²) rows — linear in the corpus, one exchange on
    * the node key.
    */
  def robustPrune(wide: DataFrame, emb: DataFrame, idCol: String,
                  embCol: String, deg: Int, alphaNum: Long = 6,
                  alphaDen: Long = 5): DataFrame = {
    val spark = wide.sparkSession
    import spark.implicits._
    val v = emb.select(col(idCol).as("vec_id"), col(embCol).as("x"),
      Tensors.norm(col(embCol)).as("nrm"))
    // multiply-then-round: round(x, 6) * 1e6 re-introduces float noise
    // that Spark's cast would TRUNCATE while DuckDB's cast rounds —
    // round(x * 1e6, 0) lands exactly on the integer grid on both engines
    def cosE6(xa: org.apache.spark.sql.Column, xb: org.apache.spark.sql.Column,
              na: org.apache.spark.sql.Column, nb: org.apache.spark.sql.Column) =
      round(Tensors.dot(xa, xb) / (na * nb) * 1000000, 0).cast("long")
    val cu = wide
      .join(v.select(col("vec_id").as("src"), col("x").as("xa"),
        col("nrm").as("na")), "src")
      .join(v.select(col("vec_id").as("dst"), col("x").as("xb"),
        col("nrm").as("nb")), "dst")
      .select(col("src"), col("dst"),
        cosE6(col("xa"), col("xb"), col("na"), col("nb")).as("cu_e6"))
    val pairs = wide.as("a")
      .join(wide.as("b"),
        col("a.src") === col("b.src") && col("a.dst") =!= col("b.dst"))
      .select(col("a.src").as("src"), col("a.dst").as("c1"),
        col("b.dst").as("c2"))
      .join(v.select(col("vec_id").as("c1"), col("x").as("xa"),
        col("nrm").as("na")), "c1")
      .join(v.select(col("vec_id").as("c2"), col("x").as("xb"),
        col("nrm").as("nb")), "c2")
      .select(col("src"), col("c1"),
        struct(col("c2"),
          cosE6(col("xa"), col("xb"), col("na"), col("nb")).as("p")).as("e"))
      .groupBy("src", "c1")
      .agg(map_from_entries(collect_list(col("e"))).as("pl"))
    val pruned = cu.join(pairs,
        cu("src") === pairs("src") && cu("dst") === pairs("c1"), "left")
      .select(cu("src"), cu("dst"), col("cu_e6"),
        coalesce(col("pl"), map()).as("pl"))
      .as[(Long, Long, Long, Map[Long, Long])]
      .groupByKey(_._1)
      .flatMapSortedGroups(col("cu_e6").desc, col("dst")) { (u, rows) =>
        val kept = scala.collection.mutable.ArrayBuffer.empty[Long]
        rows.flatMap { case (_, c, cuE6, pl) =>
          if (kept.size >= deg) None
          else {
            val occluded = kept.exists { k =>
              pl.get(k).exists(p =>
                alphaNum * (1000000L - p) <= alphaDen * (1000000L - cuE6))
            }
            if (occluded) None
            else { kept += c; Some((u, c)) }
          }
        }
      }
      .toDF("src", "dst")
    // relax the typed encoder's NON-NULLABLE schema through a fresh
    // RDD-backed relation: the walk's per-hop self-union trips Spark's
    // Union constraint rewrite over the IsNotNull constraints minted from
    // non-nullable attributes after relation dedup (NoSuchElementException
    // key-not-found on the frontier attribute — measured, and absent with
    // nullable columns). The wrap is lazy; no extra action runs here.
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    spark.createDataFrame(pruned.rdd, StructType(Seq(
      StructField("src", LongType, nullable = true),
      StructField("dst", LongType, nullable = true))))
  }

  /** DuckDB CTE chain mirroring [[build]] verbatim — emits prefixed CTEs
    * and finally `${p}g(src, dst)`; expects a CTE `$src(vec_id, embedding,
    * nrm)` in scope. `p` prefixes every CTE name so several builds can
    * coexist in one oracle.
    */
  /** Signature CTEs (`${p}pl/${p}lbit/${p}sg`) over `$src` — factored so
    * the build AND upsert oracles replay the identical hashing.
    */
  private def sigChainSql(dim: Int, bands: Int, rbits: Int, seed: Long,
                          p: String, src: String): String = {
    val lBits = bands * rbits
    val sign = s"(CASE WHEN (${Hashes.mulHashSql("(p.j) * 4096 + (i - 1)", seed)}) % 2 = 0" +
      " THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END)"
    s"""${p}pl AS (SELECT range AS j FROM range(0, $lBits)),
       |${p}lbit AS (
       |  SELECT v.vec_id, p.j // $rbits AS band, p.j % $rbits AS pos,
       |         CASE WHEN list_reduce(list_prepend(CAST(0 AS DOUBLE),
       |             list_transform(range(1, ${dim + 1}),
       |               i -> CAST(v.embedding[i] AS DOUBLE) * $sign)),
       |             (x, y) -> x + y) >= 0 THEN 1 ELSE 0 END AS bit
       |  FROM $src v, ${p}pl p),
       |${p}sg AS (SELECT vec_id, band,
       |         CAST(sum(bit * CAST(pow(2, pos) AS BIGINT)) AS BIGINT) AS sig
       |       FROM ${p}lbit GROUP BY 1, 2)""".stripMargin
  }

  /** Census + capped sub-cell CTEs (`${p}cs/${p}sb`) over `${p}sg`. */
  private def bucketChainSql(cap: Int, p: String): String =
    s"""${p}cs AS (SELECT band, sig, CAST(count(*) AS BIGINT) AS bsize
       |       FROM ${p}sg GROUP BY 1, 2),
       |${p}sb AS (SELECT sg.vec_id, sg.band, sg.sig,
       |         (${Hashes.mulHashSql("sg.vec_id", SubSalt)})
       |           % ((cs.bsize + ${cap - 1}) // $cap) AS sub
       |       FROM ${p}sg sg JOIN ${p}cs cs USING (band, sig))""".stripMargin

  def graphCteSql(dim: Int, bands: Int, rbits: Int, seed: Long, cap: Int,
                  deg: Int, dotSql: (String, String) => String,
                  p: String = "", src: String = "v"): String = {
    s"""${sigChainSql(dim, bands, rbits, seed, p, src)},
       |${bucketChainSql(cap, p)},
       |${p}cand AS (SELECT DISTINCT a.vec_id AS ai, b.vec_id AS bi
       |         FROM ${p}sb a JOIN ${p}sb b USING (band, sig, sub)
       |         WHERE a.vec_id < b.vec_id),
       |${p}candsc AS (
       |  SELECT ai, bi,
       |         round(${dotSql("a.embedding", "b.embedding")}
       |               / (a.nrm * b.nrm), 6) AS cos
       |  FROM ${p}cand JOIN $src a ON a.vec_id = ai
       |  JOIN $src b ON b.vec_id = bi),
       |${p}undsc AS (SELECT ai AS src, bi AS dst, cos FROM ${p}candsc
       |        UNION ALL SELECT bi AS src, ai AS dst, cos FROM ${p}candsc),
       |${p}g AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn FROM ${p}undsc) t
       |  WHERE rn <= $deg)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[buildRefined]]: the [[graphCteSql]] seed
    * at `kInternal` width (as `${p}g0`), `rounds` NN-descent round chains
    * (`${p}u{r}/${p}c{r}/${p}s{r}/${p}g{r}`), and the final prune to `deg`
    * as `${p}g`. Expects `$src(vec_id, embedding, nrm)` in scope.
    */
  def refinedGraphCteSql(dim: Int, bands: Int, rbits: Int, seed: Long,
                         cap: Int, kInternal: Int, rounds: Int, deg: Int,
                         dotSql: (String, String) => String,
                         p: String = "", src: String = "v"): String = {
    val seedCtes = graphCteSql(dim, bands, rbits, seed, cap, kInternal,
        dotSql, p = s"${p}s_", src = src)
      .replace(s"${p}s_g AS MATERIALIZED", s"${p}g0 AS MATERIALIZED")
    s"""$seedCtes,
       |${refineCteSql(kInternal, rounds, deg, dotSql, baseG = s"${p}g0",
            p = p, src = src, out = s"${p}g")}""".stripMargin
  }

  /** The NN-descent round chains on their own, from an arbitrary base
    * graph CTE `$baseG` — [[refinedGraphCteSql]] composes it with the LSH
    * seed; q299's refresh replay composes it with a maintained graph.
    * Ends in `$out(src, dst)`.
    */
  def refineCteSql(kInternal: Int, rounds: Int, deg: Int,
                   dotSql: (String, String) => String, baseG: String,
                   p: String = "", src: String = "v",
                   out: String = "g"): String = {
    val roundCtes = (1 to rounds).map { r =>
      val prev = if (r == 1) baseG else s"${p}g${r - 1}"
      s"""${p}u$r AS MATERIALIZED (
         |  SELECT src, dst FROM $prev
         |  UNION SELECT dst AS src, src AS dst FROM $prev),
         |${p}c$r AS (SELECT DISTINCT src, dst FROM (
         |    SELECT x.src, y.dst FROM ${p}u$r x JOIN ${p}u$r y
         |      ON x.dst = y.src
         |    UNION ALL SELECT src, dst FROM ${p}u$r) t WHERE src <> dst),
         |${p}s$r AS MATERIALIZED (
         |  SELECT c.src, c.dst,
         |         round(${dotSql("a.embedding", "b.embedding")}
         |               / (a.nrm * b.nrm), 6) AS cos
         |  FROM ${p}c$r c JOIN $src a ON a.vec_id = c.src
         |  JOIN $src b ON b.vec_id = c.dst),
         |${p}g$r AS MATERIALIZED (
         |  SELECT src, dst FROM (
         |    SELECT src, dst, row_number() OVER (PARTITION BY src
         |             ORDER BY cos DESC, dst) AS rn FROM ${p}s$r) t
         |  WHERE rn <= $kInternal)""".stripMargin
    }.mkString(",\n")
    s"""$roundCtes,
       |$out AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn FROM ${p}s$rounds) t
       |  WHERE rn <= $deg)""".stripMargin
  }

  /** DuckDB CTE chain mirroring [[upsert]] stage for stage: the signature
    * census over the COMBINED corpus `$src`, the capped band-bucket
    * candidate join restricted to new-side rows (`newPred(vec_id)` marks
    * NEW vectors), the wide-internal link + affected-node repair, the
    * local NN-descent round for the new nodes, and the final prune to
    * `deg`. Ends in `$out(src, dst)` — the upserted graph.
    */
  def upsertCteSql(dim: Int, bands: Int, rbits: Int, seed: Long, cap: Int,
                   kInternal: Int, deg: Int,
                   dotSql: (String, String) => String,
                   newPred: String => String, baseG: String,
                   p: String = "u_", src: String = "v",
                   out: String = "g"): String =
    s"""${sigChainSql(dim, bands, rbits, seed, p, src)},
       |${bucketChainSql(cap, p)},
       |${p}cand AS (SELECT DISTINCT a.vec_id AS ni, b.vec_id AS oi
       |         FROM ${p}sb a JOIN ${p}sb b USING (band, sig, sub)
       |         WHERE (${newPred("a.vec_id")}) AND a.vec_id <> b.vec_id),
       |${p}sc AS MATERIALIZED (
       |  SELECT ni, oi,
       |         round(${dotSql("a.embedding", "b.embedding")}
       |               / (a.nrm * b.nrm), 6) AS cos
       |  FROM ${p}cand JOIN $src a ON a.vec_id = ni
       |  JOIN $src b ON b.vec_id = oi),
       |${p}newg AS (SELECT src, dst, cos FROM (
       |    SELECT ni AS src, oi AS dst, cos, row_number() OVER (PARTITION BY ni
       |             ORDER BY cos DESC, oi) AS rn FROM ${p}sc) t
       |  WHERE rn <= $kInternal),
       |${p}rev AS (SELECT oi AS src, ni AS dst, cos FROM ${p}sc
       |        WHERE NOT (${newPred("oi")})),
       |${p}aff AS (SELECT DISTINCT src FROM ${p}rev),
       |${p}old AS (SELECT e.src, e.dst,
       |         round(${dotSql("a.embedding", "b.embedding")}
       |               / (a.nrm * b.nrm), 6) AS cos
       |       FROM $baseG e JOIN ${p}aff USING (src)
       |       JOIN $src a ON a.vec_id = e.src
       |       JOIN $src b ON b.vec_id = e.dst),
       |${p}rp AS MATERIALIZED (SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn
       |    FROM (SELECT * FROM ${p}old UNION ALL SELECT * FROM ${p}rev) t0) t
       |  WHERE rn <= $kInternal),
       |${p}un AS (SELECT src, dst FROM $baseG
       |       WHERE src NOT IN (SELECT src FROM ${p}aff)),
       |${p}g1 AS MATERIALIZED (
       |  SELECT src, dst FROM ${p}un
       |  UNION ALL SELECT src, dst FROM ${p}rp
       |  UNION ALL SELECT src, dst FROM ${p}newg),
       |${refineRoundCtes(1, s"${p}g1", dotSql, newPred, p, src, kInternal)},
       |${p}g2 AS MATERIALIZED (
       |  SELECT src, dst FROM ${p}un
       |  UNION ALL SELECT src, dst FROM ${p}rp
       |  UNION ALL SELECT src, dst FROM ${p}rg1),
       |${refineRoundCtes(2, s"${p}g2", dotSql, newPred, p, src, kInternal)},
       |$out AS MATERIALIZED (
       |  SELECT src, dst FROM ${p}un
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn FROM ${p}rp) t
       |  WHERE rn <= $deg
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn FROM ${p}rg2) t
       |  WHERE rn <= $deg)""".stripMargin

  /** One oracle refine round r over graph CTE `$g`: new-node two-hop
    * candidates re-scored and pruned to `kInternal` as `${p}rg$r`.
    */
  private def refineRoundCtes(r: Int, g: String,
                              dotSql: (String, String) => String,
                              newPred: String => String, p: String,
                              src: String, kInternal: Int): String =
    s"""${p}n$r AS (SELECT DISTINCT n, m FROM (
       |    SELECT src AS n, dst AS m FROM $g WHERE ${newPred("src")}
       |    UNION ALL
       |    SELECT dst AS n, src AS m FROM $g WHERE ${newPred("dst")}) t),
       |${p}m$r AS (SELECT DISTINCT m, t FROM (
       |    SELECT src AS m, dst AS t FROM $g
       |    WHERE src IN (SELECT m FROM ${p}n$r)
       |    UNION ALL SELECT dst AS m, src AS t FROM $g
       |    WHERE dst IN (SELECT m FROM ${p}n$r)) t),
       |${p}rc$r AS (SELECT DISTINCT n, dst FROM (
       |    SELECT n, m AS dst FROM ${p}n$r
       |    UNION ALL SELECT n1.n, m2.t AS dst FROM ${p}n$r n1
       |    JOIN ${p}m$r m2 ON n1.m = m2.m) t
       |  WHERE n <> dst),
       |${p}rsc$r AS (SELECT c.n AS src, c.dst,
       |         round(${dotSql("a.embedding", "b.embedding")}
       |               / (a.nrm * b.nrm), 6) AS cos
       |       FROM ${p}rc$r c JOIN $src a ON a.vec_id = c.n
       |       JOIN $src b ON b.vec_id = c.dst),
       |${p}rg$r AS MATERIALIZED (SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn FROM ${p}rsc$r) t
       |  WHERE rn <= $kInternal)""".stripMargin

  /** DuckDB CTE chain mirroring [[remove]]: drop edges touching deleted
    * ids (`delPred(vec_id)` marks deletions), then nodes that lost an
    * out-edge re-rank their surviving edges together with the two-hop
    * detour candidates (through the deleted neighbor) and re-prune to
    * `deg`. Ends in `$out(src, dst)` — the repaired graph.
    */
  def removeCteSql(deg: Int, dotSql: (String, String) => String,
                   delPred: String => String, baseG: String,
                   p: String = "d_", src: String = "v",
                   out: String = "g"): String =
    s"""${p}ks AS (SELECT src, dst FROM $baseG
       |       WHERE NOT (${delPred("src")})),
       |${p}sv AS (SELECT src, dst FROM ${p}ks
       |       WHERE NOT (${delPred("dst")})),
       |${p}aff AS (SELECT DISTINCT src FROM ${p}ks
       |        WHERE ${delPred("dst")}),
       |${p}dout AS (SELECT src AS d, dst AS t FROM $baseG
       |         WHERE (${delPred("src")}) AND NOT (${delPred("dst")})),
       |${p}det AS (SELECT DISTINCT k.src, o.t AS dst
       |        FROM ${p}ks k JOIN ${p}dout o ON k.dst = o.d
       |        WHERE k.src <> o.t),
       |${p}cand AS (SELECT src, dst FROM (
       |    SELECT s.src, s.dst FROM ${p}sv s JOIN ${p}aff a ON s.src = a.src
       |    UNION SELECT src, dst FROM ${p}det) t),
       |${p}sc AS (SELECT c.src, c.dst,
       |         round(${dotSql("a.embedding", "b.embedding")}
       |               / (a.nrm * b.nrm), 6) AS cos
       |       FROM ${p}cand c JOIN $src a ON a.vec_id = c.src
       |       JOIN $src b ON b.vec_id = c.dst),
       |${p}rp AS (SELECT src, dst FROM (
       |    SELECT src, dst, row_number() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rn FROM ${p}sc) t
       |  WHERE rn <= $deg),
       |$out AS MATERIALIZED (
       |  SELECT src, dst FROM ${p}sv
       |  WHERE src NOT IN (SELECT src FROM ${p}aff)
       |  UNION ALL SELECT src, dst FROM ${p}rp)""".stripMargin

  /** DuckDB CTE chain mirroring [[robustPrune]]: candidate ranks + pair
    * cosines over the wide graph CTE `$wideG(src, dst)`, then `steps`
    * unrolled greedy rounds carrying the kept list (the attribution-chain
    * unroll posture — no recursion corner cases), ending in
    * `$out(src, dst)`. `steps` must be ≥ the wide graph's max degree.
    */
  def robustPruneCteSql(deg: Int, steps: Int,
                        dotSql: (String, String) => String,
                        wideG: String, alphaNum: Long = 6,
                        alphaDen: Long = 5, p: String = "r_",
                        src: String = "v", out: String = "g"): String = {
    def cosE6(a: String, b: String, na: String, nb: String) =
      s"CAST(round(${dotSql(a, b)} / ($na * $nb) * 1000000, 0) AS BIGINT)"
    val stepCtes = (1 to steps).map { r =>
      s"""${p}st$r AS MATERIALIZED (
         |  SELECT s.u,
         |    CASE WHEN c.c IS NULL OR len(s.kept) >= $deg THEN s.kept
         |         WHEN len(list_filter(c.pl, e ->
         |                list_contains(s.kept, e.k)
         |                AND $alphaNum * (1000000 - e.p)
         |                    <= $alphaDen * (1000000 - c.cu_e6))) > 0
         |         THEN s.kept
         |         ELSE list_append(s.kept, c.c) END AS kept
         |  FROM ${p}st${r - 1} s LEFT JOIN ${p}cd c
         |    ON c.u = s.u AND c.rn = $r)""".stripMargin
    }.mkString(",\n")
    s"""${p}cu AS (SELECT w.src AS u, w.dst AS c,
       |         ${cosE6("a.embedding", "b.embedding", "a.nrm", "b.nrm")}
       |           AS cu_e6
       |       FROM $wideG w JOIN $src a ON a.vec_id = w.src
       |       JOIN $src b ON b.vec_id = w.dst),
       |${p}pc AS (SELECT x.src AS u, x.dst AS c1, y.dst AS c2,
       |         ${cosE6("a.embedding", "b.embedding", "a.nrm", "b.nrm")}
       |           AS p_e6
       |       FROM $wideG x JOIN $wideG y
       |         ON x.src = y.src AND x.dst <> y.dst
       |       JOIN $src a ON a.vec_id = x.dst
       |       JOIN $src b ON b.vec_id = y.dst),
       |${p}pl AS (SELECT u, c1 AS c,
       |         list(struct_pack(k := c2, p := p_e6) ORDER BY c2) AS pl
       |       FROM ${p}pc GROUP BY u, c1),
       |${p}cd AS MATERIALIZED (
       |  SELECT cu.u, cu.c, cu.cu_e6,
       |         row_number() OVER (PARTITION BY cu.u
       |           ORDER BY cu.cu_e6 DESC, cu.c) AS rn,
       |         coalesce(pl.pl, []) AS pl
       |  FROM ${p}cu cu LEFT JOIN ${p}pl pl
       |    ON pl.u = cu.u AND pl.c = cu.c),
       |${p}st0 AS (SELECT DISTINCT u, CAST([] AS BIGINT[]) AS kept
       |        FROM ${p}cd),
       |$stepCtes,
       |$out AS MATERIALIZED (
       |  SELECT u AS src, unnest(kept) AS dst FROM ${p}st$steps)""".stripMargin
  }
}
