package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Scratch.rmrf

/** Continuous corpus ingestion with deduplication — the streaming twin of the
  * batch incremental-dedup operator (q114). New document batches land as
  * parquet files in a directory; each micro-batch is deduplicated twice:
  *
  *   1. within the stream — exact content-digest first-arrival dedup with
  *      watermark-bounded state (`dropDuplicatesWithinWatermark`): one state
  *      entry per surviving digest INSIDE the horizon, expired once the
  *      watermark passes it. Plain `dropDuplicates` would keep an entry per
  *      digest forever — an unbounded-state leak on a continuous pipeline.
  *   2. against the accumulated corpus — stream-static LEFT ANTI join on the
  *      digest. The static side is a digest-only (column-pruned) relation,
  *      re-resolved every micro-batch, so a recompacted corpus is picked up
  *      without restarting the query.
  *
  * Run under the parquet file sink (`writeStream.format("parquet")` with a
  * checkpoint) the flow is end-to-end exactly-once: the sink's commit log
  * records which files each batch wrote, so a retried batch never
  * double-adds documents. Scale shape at 100 TB: the stream side is the
  * (small) arrival batch, the static side one pruned digest scan; nothing
  * ever self-joins the corpus.
  *
  * Reference anchor: create_train_valid_test_datasets.py:41-54 lands
  * archives idempotently before dataset builds; this is that step as a
  * continuous pipeline plus the dedup a curation pipeline needs (q114 gives
  * the same semantics batch-vs-corpus; q119 pins them against the oracle).
  */
object DocStreams {

  /** Landing schema: arrival batches carry an ingest timestamp (event time
    * for the dedup watermark) alongside the document payload.
    */
  val landingSchema: StructType = new StructType()
    .add("doc_id", LongType)
    .add("ingest_ts", TimestampType)
    .add("text", StringType)

  /** File-stream source over a landing directory of parquet batches. */
  def readLanding(spark: SparkSession, landingDir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(landingSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(landingDir)
  }

  /** Mode-agnostic dedup transform — give it the streaming landing relation
    * or the equivalent batch relation (the parity test runs both): digest →
    * first-arrival dedup → anti-join against the corpus digest set. Batch
    * mode keeps one arbitrary row per digest (callers needing a
    * deterministic representative pick min doc_id downstream, as q119 does);
    * streaming mode keeps the first arrival in processing order.
    *
    * Guarantee scope, stated precisely: the anti-join side is the `corpus`
    * AS PASSED — a static snapshot, not the stream's own output. Within a
    * run, cross-batch dedup among NEW documents is bounded by the watermark
    * `horizon` (that is the entire point of bounded state: older state is
    * dropped by contract). A re-arrival after the horizon of a document this
    * stream itself already emitted — but which is not in `corpus` — will be
    * emitted again. Callers wanting dedup against everything ever emitted
    * must fold the sink back into `corpus` at start-up; downstream exact
    * dedup (q30) remains the safety net, exactly as in production ingest
    * pipelines.
    */
  def dedupedIngest(newDocs: DataFrame, corpus: DataFrame,
                    horizon: String = "1 hour"): DataFrame = {
    val digests = corpus.select(sha2(col("text"), 256).as("h")).distinct()
    val hashed = newDocs.withColumn("h", sha2(col("text"), 256))
    val firstArrival =
      if (newDocs.isStreaming)
        hashed.withWatermark("ingest_ts", horizon).dropDuplicatesWithinWatermark("h")
      else hashed.dropDuplicates("h")
    firstArrival.join(digests, Seq("h"), "left_anti")
      .select(col("doc_id"), col("ingest_ts"), col("text"), col("h"))
  }

  /** Row-local ingest quality gate: ≥ `minTokens` tokens and a stopword
    * ratio of at least `stopTwentieths`/20 (integer cross-multiply, no
    * float compare) — q33's per-row signals as a streamable predicate.
    * Deliberately row-local: corpus-RELATIVE gates (the LM band of
    * q110/q126) need corpus statistics and belong in batch compaction; the
    * ingest edge filters on per-row signals with zero extra state.
    */
  def ingestQualityGate(text: org.apache.spark.sql.Column, minTokens: Int = 3,
                        stopTwentieths: Int = 1): org.apache.spark.sql.Column = {
    val toks = split(text, " ", -1)
    val nStop = size(filter(toks, x => x.isin("the", "a", "of", "and", "to")))
    size(toks) >= minTokens && nStop * 20 >= size(toks) * stopTwentieths
  }

  /** Quality-gated continuous ingestion: [[ingestQualityGate]] ahead of
    * [[dedupedIngest]] — the production ingest-edge composition (cheap
    * row-local gate first, so rejected documents never enter dedup state).
    * Mode-agnostic like everything here; fully streamable in append mode.
    */
  def curatedIngest(newDocs: DataFrame, corpus: DataFrame,
                    horizon: String = "1 hour"): DataFrame =
    dedupedIngest(newDocs.where(ingestQualityGate(col("text"))), corpus, horizon)

  /** Row-local blocklist gate: TRUE iff `text` contains NO blocklist
    * pattern — one Aho–Corasick pass per document
    * ([[graft.functions.MultiMatch]]; the automaton is plan-embedded, so
    * the whole K-pattern blocklist ships once per task). Zero state, hence
    * streamable; like [[ingestQualityGate]] it runs AHEAD of dedup so
    * blocked documents never enter dedup state.
    */
  def blocklistGate(text: org.apache.spark.sql.Column,
                    patterns: Seq[String]): org.apache.spark.sql.Column =
    !exists(graft.functions.MultiMatch.multi_count(text, patterns), c => c > 0)

  /** [[curatedIngest]] with a blocklist: quality gate ∧ blocklist gate →
    * dedup — the full moderated ingest edge (both gates row-local; the
    * expensive stages only ever see documents that will actually land).
    */
  def moderatedIngest(newDocs: DataFrame, corpus: DataFrame,
                      patterns: Seq[String],
                      horizon: String = "1 hour"): DataFrame =
    dedupedIngest(
      newDocs.where(ingestQualityGate(col("text")) &&
        blocklistGate(col("text"), patterns)),
      corpus, horizon)

  /** Near-duplicate ingest gate — the check a continuously-ingesting
    * pipeline actually runs (exact-digest dedup only catches VERBATIM
    * re-arrivals; scraped and templated near-copies sail through it): the
    * arriving batch's MinHash band signatures probe the accumulated band
    * index ([[graft.operators.MinHash.crossNearDuplicates]] — candidates
    * from the (band, bkey) equi-join, exact Jaccard on candidates only),
    * and any document with a verified match ≥ `minJaccard` is dropped.
    * Returns the survivors with the arriving schema intact.
    *
    * BATCH transform by design: the drop is an anti-join against a set
    * derived from the batch itself, which streaming's incremental model
    * cannot express in one pass — so the continuous flow runs this per
    * micro-batch via `foreachBatch` ([[runNearDupIngest]]), exactly the
    * production idiom. Scale shape: probe side is the (small) batch, the
    * corpus side is one pruned index scan; nothing self-joins the corpus.
    */
  def nearDupGate(newDocs: DataFrame, corpus: DataFrame,
                  minJaccard: Double = 0.5): DataFrame = {
    val matched = graft.operators.MinHash.crossNearDuplicates(
        newDocs, corpus, col("doc_id"), split(col("text"), " ", -1), minJaccard)
      .select(col("probe_id").as("doc_id")).distinct()
    newDocs.join(matched, Seq("doc_id"), "left_anti")
  }

  /** Continuous near-dup-gated ingestion: land → [[nearDupGate]] against
    * corpus ∪ everything this flow already emitted → parquet. Each
    * micro-batch runs the batch gate via `foreachBatch`; the accumulated
    * index is re-read per batch, so wave B's near-copies of wave A's
    * survivors are caught by wave A's index (StreamingSpec pins this under
    * the two-drain harness). Idempotence: each batch overwrites its own
    * `batch=<id>` partition directory, so a retried batch rewrites rather
    * than double-appends.
    *
    * `compactEvery` > 0 bounds the per-batch index-read cost on a
    * long-running flow: whenever the number of completed prior batch dirs
    * reaches the threshold, they are folded into `batch=compacted`
    * ([[compactGateOutput]]) at batch ENTRY — before this batch's own
    * listing, and always excluding this batch's own (possibly partial,
    * about-to-be-overwritten) directory — so the per-micro-batch listing
    * and scan stay O(compactEvery) instead of O(total batches ever).
    */
  def runNearDupIngest(spark: SparkSession, landingDir: String,
                       corpus: DataFrame, outDir: String,
                       checkpointDir: String,
                       minJaccard: Double = 0.5,
                       compactEvery: Int = 0): Unit =
    Drain.toBatchDirs(readLanding(spark, landingDir), outDir, checkpointDir) {
      (batch, batchId) =>
        // settle any compaction a crash interrupted BEFORE listing anything:
        // a half-finished swap otherwise hides consolidated survivors from
        // this batch's index read (admitting duplicates) or double-counts
        // folded rows in the output
        recoverCompaction(outDir)
        if (compactEvery > 0) {
          val nPrior = Option(new java.io.File(outDir).listFiles)
            .map(_.count(f => f.isDirectory && f.getName.startsWith("batch=")
              && f.getName != "batch=compacted"
              && f.getName != s"batch=$batchId")).getOrElse(0)
          if (nPrior >= compactEvery)
            compactGateOutput(spark, outDir, Some(batchId)): Unit
        }
        // list COMPLETED batch dirs eagerly — a lazy glob over outDir would
        // be resolved mid-write and race with this batch's own output
        val priorDirs = Option(new java.io.File(outDir).listFiles)
          .map(_.filter(f => f.isDirectory && f.getName.startsWith("batch=")
            && f.getName != s"batch=$batchId").map(_.getPath).toSeq)
          .getOrElse(Seq.empty)
        val prior =
          if (priorDirs.nonEmpty)
            Some(spark.read.schema(landingSchema).parquet(priorDirs: _*))
          else None
        val acc = prior.fold(corpus.select("doc_id", "text"))(p =>
          corpus.select("doc_id", "text").unionByName(
            p.select("doc_id", "text")))
        nearDupGate(batch, acc, minJaccard)
    }

  /** Compact the near-dup gate's accumulated output: fold all `batch=*`
    * partition directories — PLUS the contents of any existing
    * `batch=compacted` from a previous compaction, so repeated compaction is
    * cumulative, never lossy — into one consolidated `batch=compacted` dir
    * and remove the folded originals. After compaction each micro-batch's
    * index re-read lists ONE directory instead of one per historical batch
    * (the growth the per-batch layout trades for idempotence). The
    * consolidated dir keeps the same landing schema, so [[runNearDupIngest]]
    * 's accumulation is unchanged. Returns the number of per-batch dirs
    * folded (excluding the prior `batch=compacted`).
    *
    * Safe to call from INSIDE `foreachBatch` by passing `excludeBatchId` =
    * the current batch id: the in-flight batch's own directory (including a
    * partial one left by a failed earlier attempt of the same batch, which
    * the retry is about to overwrite) is never folded, so a retried batch
    * cannot leave duplicate or partial rows frozen into the compacted dir.
    */
  def compactGateOutput(spark: SparkSession, outDir: String,
                        excludeBatchId: Option[Long] = None): Int = {
    recoverCompaction(outDir)
    val skip = excludeBatchId.map(id => s"batch=$id")
    val dirs = Option(new java.io.File(outDir).listFiles)
      .map(_.filter(f => f.isDirectory && f.getName.startsWith("batch=")
        && f.getName != "batch=compacted" && !skip.contains(f.getName)).toSeq)
      .getOrElse(Seq.empty)
    if (dirs.isEmpty) return 0
    // fold the prior consolidated dir in alongside the new batch dirs —
    // omitting it here is a data-loss bug (the rmrf below would discard the
    // previously compacted survivors from both the dedup index and the
    // pipeline output on every compaction after the first)
    val prevCompacted = new java.io.File(s"$outDir/batch=compacted")
    val readPaths = dirs.map(_.getPath) ++
      (if (prevCompacted.isDirectory) Seq(prevCompacted.getPath) else Nil)
    val all = spark.read.schema(landingSchema).parquet(readPaths: _*)
    // Crash-atomic swap protocol. The consolidated relation lands under a
    // temp name, then a MANIFEST of exactly which inputs it folded is
    // written INTO the temp dir — only then does any destructive step run,
    // in an order [[recoverCompaction]] can always finish or undo:
    //   1. write .compact_tmp (parquet)      — crash ⇒ originals intact
    //   2. write .compact_tmp/_folded        — tmp is COMPLETE iff present
    //   3. rename batch=compacted → .compact_old   — never deleted early
    //   4. rmrf the folded batch dirs (from the manifest)
    //   5. rename .compact_tmp → batch=compacted
    //   6. rmrf .compact_old
    // Every crash window leaves either (a) an incomplete tmp (no manifest:
    // originals untouched — recovery discards tmp), or (b) a complete tmp
    // whose manifest names the folded dirs — recovery finishes steps 4–6
    // verbatim. At no point is the only copy of previously-compacted
    // survivors in an unnamed temp location.
    val tmp = new java.io.File(s"$outDir/.compact_tmp")
    val old = new java.io.File(s"$outDir/.compact_old")
    all.coalesce(math.max(1, dirs.size / 8))
      .write.mode("overwrite").parquet(tmp.getPath)
    java.nio.file.Files.write(
      new java.io.File(tmp, FoldedManifest).toPath,
      dirs.map(_.getName).mkString("\n").getBytes("UTF-8"))
    if (prevCompacted.isDirectory) {
      val okAside = prevCompacted.renameTo(old)
      require(okAside, s"compaction rename failed: $prevCompacted -> $old")
    }
    dirs.foreach(rmrf)
    val ok = tmp.renameTo(prevCompacted)
    require(ok, s"compaction rename failed: $tmp -> $prevCompacted")
    rmrf(old)
    dirs.size
  }

  private val FoldedManifest = "_folded"

  /** Finish or undo a compaction interrupted by a crash (see the swap
    * protocol in [[compactGateOutput]]). Idempotent; called at compaction
    * entry AND at every micro-batch entry of [[runNearDupIngest]], so a
    * restarted flow always sees a settled directory before it lists.
    *
    *   - tmp without its `_folded` manifest → the parquet write itself
    *     crashed; all originals are untouched — discard tmp.
    *   - tmp WITH manifest → tmp is the complete consolidated relation;
    *     finish the swap: delete the manifest-named batch dirs (whichever
    *     still exist), move any not-yet-renamed `batch=compacted` aside,
    *     rename tmp into place, drop the aside copy.
    *   - `.compact_old` without tmp → crash fell between the final rename
    *     and the old-copy cleanup; `batch=compacted` is already the new
    *     consolidated dir — drop the old copy.
    */
  private[graft] def recoverCompaction(outDir: String): Unit = {
    val tmp = new java.io.File(s"$outDir/.compact_tmp")
    val old = new java.io.File(s"$outDir/.compact_old")
    val compacted = new java.io.File(s"$outDir/batch=compacted")
    val manifest = new java.io.File(tmp, FoldedManifest)
    if (tmp.isDirectory) {
      if (!manifest.isFile) {
        rmrf(tmp) // incomplete write; originals intact
      } else {
        val folded = new String(
          java.nio.file.Files.readAllBytes(manifest.toPath), "UTF-8")
          .split("\n").filter(_.nonEmpty)
        // tmp already folds the pre-crash batch=compacted; if the aside
        // rename hadn't happened yet, do it now so the final rename lands
        if (compacted.isDirectory && !old.isDirectory) {
          val okAside = compacted.renameTo(old)
          require(okAside, s"recovery rename failed: $compacted -> $old")
        }
        folded.foreach(n => rmrf(new java.io.File(s"$outDir/$n")))
        val ok = tmp.renameTo(compacted)
        require(ok, s"recovery rename failed: $tmp -> $compacted")
      }
    }
    if (old.isDirectory) rmrf(old)
  }
}
