package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Scratch.rmrf

import graft.operators.Pq

/** Continuous PQ encoding of an embedding stream — the index-build half of a
  * streaming retrieval pipeline: embedding batches land as parquet files,
  * each micro-batch is compressed to PQ codes ([[Pq.encode]] — a row-local
  * codegen'd expression, so it streams without any stateful operator), and
  * the codes append to the searchable index under the file sink's
  * exactly-once commit log.
  *
  * Why this shape at 100 TB: the embedding firehose (new documents being
  * embedded continuously) must reach the ANN index without a batch rebuild.
  * Because encode is stateless and the codebook a broadcast constant, the
  * stream needs no watermark, no state store, and no shuffle — ingest
  * parallelism IS file parallelism, and the index grows append-only (codes
  * partition-prunable by coarse cell when composed with IVF, q127's layout).
  * Codebooks retrain offline on a sample; a codebook swap is a new sink
  * directory, never an in-place mutation.
  *
  * Determinism: [[Pq.encode]]'s argmins compare rounded (1e-6) distances
  * with first-index ties, so a vector's code is identical in any micro-batch
  * partitioning — streaming output ≡ batch output row for row (q135 pins
  * this against the oracle; StreamingSpec pins micro-batch ≡ batch parity).
  */
object EmbeddingStreams {

  /** Landing schema = the embeddings table's columns (label dropped — the
    * encoder consumes (vec_id, embedding) only).
    */
  val landingSchema: StructType = new StructType()
    .add("vec_id", LongType)
    .add("embedding", ArrayType(FloatType))

  /** File-stream source over a landing directory of parquet batches. */
  def readLanding(spark: SparkSession, landingDir: String,
                  maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(landingSchema)
    maxFilesPerTrigger.foreach(n => r.option("maxFilesPerTrigger", n))
    r.parquet(landingDir)
  }

  /** Mode-agnostic encode transform — hand it the streaming landing relation
    * or the equivalent batch relation; [[Pq.encode]] is a pure projection so
    * the identical plan runs in both modes.
    */
  def encoded(embeddings: DataFrame, cb: Pq.Codebooks): DataFrame =
    Pq.encode(embeddings, "vec_id", "embedding", cb)

  /** Land → encode → parquet append, exactly-once, drain-all-and-stop
    * ([[Drain]] — the incremental-batch idiom shared with the NPZ and
    * TFRecord converters): a retried batch never double-writes codes, and
    * a re-run against an unchanged landing directory is a no-op against
    * the same checkpoint.
    */
  def runEncode(spark: SparkSession, landingDir: String, cb: Pq.Codebooks,
                outDir: String, checkpointDir: String,
                maxFilesPerTrigger: Option[Int] = None): Unit =
    Drain.toParquet(encoded(readLanding(spark, landingDir, maxFilesPerTrigger),
      cb), outDir, checkpointDir)

  /** Continuously-MAINTAINED graph-ANN index — the streaming composition
    * of [[graft.operators.NswGraph.upsert]]: each arriving embedding batch
    * links into the stored graph (band-bucket candidates + local repair,
    * never a rebuild), and the index lands write-then-swap so a reader
    * always sees a complete, mutually-consistent (vectors, edges) pair.
    * The very first batch bootstraps the index with a from-scratch build.
    *
    * foreachBatch for the same reason as [[DocStreams.runNearDupIngest]]:
    * the upsert re-ranks affected neighborhoods against batch-derived
    * state, which the incremental streaming model can't express — per
    * micro-batch batch semantics is the production idiom, and determinism
    * makes stream ≡ batch exactly (StreamingSpec pins the two-wave drain
    * against the hand-composed build→upsert chain, edge for edge).
    */
  def runGraphMaintenance(spark: SparkSession, landingDir: String,
                          indexDir: String, checkpointDir: String,
                          dim: Int, bands: Int, rbits: Int, seed: Long,
                          cap: Int, kInternal: Int, deg: Int): Unit = {
    import graft.operators.NswGraph
    Drain.foreachBatch(readLanding(spark, landingDir), checkpointDir) {
      (batch0, _) =>
        val batch = batch0.persist() // probed by sigs, ids, and the union
        val cur = new java.io.File(s"$indexDir/current")
        // crash-window recovery: the swap below is two renames
        // (current→.old, .next→current); a crash between them leaves no
        // `current` and the whole corpus index sitting in `.old`. Without
        // this restore, the next run would see no index and BOOTSTRAP a
        // fresh build from only the arriving batch — silently discarding
        // the corpus. Restoring .old→current and letting the checkpointed
        // retry re-run the upsert is idempotent: the swap replaces the
        // index wholesale and the upsert is deterministic.
        locally {
          val old = new java.io.File(s"$indexDir/.old")
          if (!cur.isDirectory && old.isDirectory)
            require(old.renameTo(cur), s"recover $old -> $cur")
        }
        val newIdx =
          if (!cur.isDirectory) {
            val g = NswGraph.buildRefined(batch, "vec_id", "embedding", dim,
              bands, rbits, seed, cap, kInternal, rounds = 2, deg)
            (batch, g)
          } else {
            val baseVecs = spark.read.schema(landingSchema)
              .parquet(s"$indexDir/current/vectors")
            val baseGraph = spark.read.parquet(s"$indexDir/current/edges")
            val g = NswGraph.upsert(baseVecs, batch, baseGraph,
              "vec_id", "embedding", dim, bands, rbits, seed, cap,
              kInternal, deg)
            (baseVecs.unionByName(batch), g)
          }
        val tmp = s"$indexDir/.next"
        newIdx._1.write.mode("overwrite").parquet(s"$tmp/vectors")
        newIdx._2.write.mode("overwrite").parquet(s"$tmp/edges")
        // swap: the new index becomes `current` atomically-enough for a
        // single-writer maintenance loop; the old tree is dropped after
        val old = new java.io.File(s"$indexDir/.old")
        rmrf(old)
        if (cur.isDirectory) { require(cur.renameTo(old), s"swap out $cur") }
        require(new java.io.File(tmp).renameTo(cur), s"swap in $tmp")
        rmrf(old)
        batch.unpersist(): Unit
    }
  }
}
