package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{Banded, Dedup}

/** Continuous ingest with near-dup admission — the streaming face of
  * the incremental dedup family (Dedup.writeBandIndex /
  * incrementalPairs / admitBatch).
  *
  * Each micro-batch of documents is dedup'd against the PERSISTED
  * corpus state (band index + admitted-docs store), the admitted rows
  * land in the corpus store, and their minhash bands are APPENDED to
  * the band index — so later batches dedup against everything admitted
  * before them, exactly like a daily batch pipeline but per
  * micro-batch. foreachBatch is the right seam: the admission decision
  * is a batch computation (joins + anti-joins).
  *
  * Delivery: foreachBatch is AT-LEAST-ONCE (a crash between sink
  * commit and offset commit replays the batch), so the sinks are laid
  * out for replay: admitted docs land under a per-batch partition
  * written with overwrite — a replay rewrites the same partition
  * instead of duplicating rows — and the band-index append tolerates
  * replay duplicates because candidate generation dedups pairs
  * (duplicate bands cost re-probe work, never correctness; fold them
  * out by rebuilding the index with Dedup.writeBandIndex over the
  * corpus store during maintenance).
  *
  * Scale shape per micro-batch: the batch's bands are computed ONCE
  * (shared between the probe and the index append), equi-join the
  * bucketed index (only the batch moves — zero corpus-side exchange),
  * verification reads texts only for candidate ids, and the index
  * append is a batch-sized bucketed write. Corpus size affects only
  * the (pre-bucketed, pruned) index probe, not a recompute.
  */
object IngestStream {

  /** Start the admission stream. `docs` is a STREAMING frame with at
    * least (idCol, textCol); `bandTable` must exist (create it with
    * Dedup.writeBandIndex over the initial corpus — possibly empty);
    * admitted docs accumulate under `corpusPath`. Batches must carry
    * ids disjoint from already-admitted ones (ingest ids are unique by
    * construction upstream). */
  def start(docs: DataFrame, bandTable: String, corpusPath: String,
      checkpointPath: String, idCol: String, textCol: String,
      k: Int = 8, rows: Int = 2, threshold: Double = 0.5,
      nBuckets: Int = 32): StreamingQuery =
    docs.writeStream
      .option("checkpointLocation", checkpointPath)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        processBatch(batch, batchId, bandTable, corpusPath, idCol,
          textCol, k, rows, threshold, nBuckets)
      }
      .start()

  /** One micro-batch of admission — package-visible so the replay
    * contract (processing the same batchId twice leaves the corpus
    * store unchanged) is pinned by a spec, not just claimed. */
  private[graft] def processBatch(batch: DataFrame, batchId: Long,
      bandTable: String, corpusPath: String, idCol: String,
      textCol: String, k: Int, rows: Int, threshold: Double,
      nBuckets: Int): Unit = {
    val spark = batch.sparkSession
    val b = batch.select(col(idCol), col(textCol)).cache()
    // bands computed ONCE per batch, caller-managed storage: the
    // probe and the index append both read them, and the persist
    // is released before the next batch (no per-batch cache leak)
    val bands = Dedup.bandTable(b, idCol, textCol, k, rows).persist()
    try {
      val corpus = corpusDocs(spark, corpusPath, idCol, textCol)
      val pairs = Dedup.incrementalPairs(b, bandTable,
        corpus.unionByName(b), idCol, textCol, k, rows, threshold,
        batchBands = Some(bands))
      // MATERIALIZE the admission decision before touching the store:
      // on a replayed batch the decision's verify stage reads the very
      // `batch=<id>` partition the idempotent overwrite below is about
      // to delete — lazily evaluated, that is a read-after-delete race
      // (whether it bites depends on AQE's stage order). localCheckpoint
      // (eager) CUTS THE LINEAGE, not just caches it: a MEMORY_ONLY
      // cache() + count() narrows but does not close the race, because
      // an evicted partition recomputes from the original plan AFTER
      // the partition has been overwritten. Checkpointed partitions
      // replicate to disk-backed storage and never re-read the source.
      val admitted =
        Dedup.admitBatch(b, pairs, idCol).localCheckpoint(eager = true)
      // per-batch partition + overwrite = replay-idempotent store
      admitted.write.mode("overwrite")
        .parquet(s"$corpusPath/batch=$batchId")
      // a REPLAY's overwrite replaces the partition's part files under
      // a path other sessions' plans list through the shared
      // FileStatusCache — refresh the store prefix so the NEXT
      // corpusDocs read (or any reader of corpusPath) re-lists instead
      // of failing on the replaced file names
      spark.catalog.refreshByPath(corpusPath)
      // grow the index with the ADMITTED docs' bands (no second minhash
      // pass) so the NEXT micro-batch dedups against them; nBuckets MUST
      // match the writeBandIndex build
      val admittedBands =
        bands.join(admitted.select(col(idCol)), Seq(idCol), "left_semi")
      Banded.appendIndex(admittedBands, Dedup.bandLayout(idCol), bandTable,
        nBuckets)
      admitted.unpersist()
      ()
    } finally { bands.unpersist(); b.unpersist() }
  }

  /** Maintenance compaction: rebuild the band index in one shot from
    * the corpus store, folding out replay-duplicate bands and the many
    * small per-batch appended files. Run it offline at whatever cadence
    * the duplicate/appended-file overhead warrants — probes stay
    * correct without it (candidate generation dedups pairs). */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      corpusPath: String, bandTable: String, idCol: String,
      textCol: String, k: Int = 8, rows: Int = 2,
      nBuckets: Int = 32): Unit =
    Dedup.writeBandIndex(
      corpusDocs(spark, corpusPath, idCol, textCol),
      idCol, textCol, bandTable, k, rows, nBuckets)

  /** Admitted-corpus reader over the per-batch partition layout
    * (`batch=<id>/` subdirs); empty-but-typed before the first batch. */
  private def corpusDocs(spark: org.apache.spark.sql.SparkSession,
      path: String, idCol: String, textCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) &&
        fs.listStatus(p).exists(_.getPath.getName.startsWith("batch=")))
      spark.read.parquet(path).select(col(idCol), col(textCol))
    else
      spark.emptyDataFrame
        .withColumn(idCol, lit(0L)).withColumn(textCol, lit(""))
        .limit(0)
  }
}
