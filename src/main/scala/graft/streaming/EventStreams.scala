package graft.streaming

import graft.similarity.IvfCodec
import org.apache.spark.sql.{Column, DataFrame, Dataset, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Structured Streaming operators over the `events` stream
  * (`event_id long, ts timestamp, user_id long, event_type string,
  * value double, props string`).
  *
  * The reference is batch-only (SURVEY.md §2.9) — these are the
  * engine's streaming extension, defined so every transform works
  * identically on a batch DataFrame (the batch twin `q15_events_hourly`
  * is the correctness anchor) and on a `readStream` source.
  *
  * Late-data semantics are explicit: every stateful operator takes a
  * watermark; events later than the watermark are dropped (documented
  * choice — the reference has no late-data concept to replicate).
  *
  * Scale: tumbling/sliding aggregations shuffle once on (window, key);
  * session windows and the custom state operator shuffle on the user
  * key with state pruned by watermark/timeout, so state size tracks
  * ACTIVE keys, not history.
  */
object EventStreams {

  /** Hourly tumbling counts per event type — streaming twin of the
    * batch `q15_events_hourly`. `approx_count_distinct` stands in for
    * the batch exact distinct (exact distinct is unsupported in
    * streaming aggregation; the sketch is the documented trade).
    */
  def hourlyCounts(
      events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
        approx_count_distinct("user_id").as("n_users_approx"))

  /** Sliding-window rates: window length / slide interval per type. */
  def slidingCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("sum_value"))

  /** Session windows per user: a session closes after `gap` of
    * inactivity.
    */
  def sessionize(
      events: DataFrame,
      gap: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(
        count(lit(1)).as("n_events"),
        sum("value").as("sum_value"),
        min("ts").as("first_event"),
        max("ts").as("last_event"))

  /** Streaming dedup on event_id: duplicates arriving within the
    * watermark horizon are dropped; state is pruned as the watermark
    * advances (bounded state — the difference between this and
    * `dropDuplicates`, whose state grows forever).
    */
  def dedupEvents(
      events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")

  /** JSON props extraction (`$.k`) + per-type rollup — streaming twin
    * of `q16_events_props_extract`.
    */
  def propsRollup(
      events: DataFrame, watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(avg("k").as("avg_k"), count(col("k")).as("n_with_k"))

  /** Streaming exact-dedup on a CONTENT fingerprint (not an id):
    * documents arriving within the watermark horizon that normalize to
    * already-seen text are dropped — the streaming twin of
    * [[graft.dedup.Dedup.exactDedupAgg]], with state bounded by the
    * watermark instead of growing with the corpus. `tsCol` is the
    * event-time column the horizon is measured on.
    */
  def dedupByFingerprint(
      docs: DataFrame, textCol: String, tsCol: String,
      watermark: String = "2 hours"): DataFrame =
    docs
      .withColumn("__fp",
        graft.text.TextAnalysis.fingerprint(col(textCol)))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp")

  /** Stream-static enrichment: join a live event stream against a
    * static dimension table (no watermark needed — the static side is
    * re-read per micro-batch, so dimension updates between batches are
    * picked up). The classic in-flight enrichment; the static side
    * broadcasts when small, exactly as in batch.
    */
  def enrichWithDimension(
      events: DataFrame, dim: DataFrame,
      eventKey: String, dimKey: String,
      dimCols: Seq[String]): DataFrame =
    events.join(
      dim.select((dimKey +: dimCols).map(col): _*),
      col(eventKey) === col(dimKey), "left")
      .drop(dimKey)

  /** Stream-stream INTERVAL join: pair each left event with right
    * events of the same user within `(0, horizon]` AFTER it (e.g.
    * impression → click attribution). Both sides carry watermarks and
    * the join condition bounds the event-time gap on both ends — the
    * two requirements that let Spark prune join state instead of
    * buffering both streams forever. Equi-key (`user_id`) keeps it a
    * hash join on the shuffle key; the time bound is the residual.
    *
    * Works identically on batch frames (spec anchor) and streams.
    */
  def intervalJoin(
      left: DataFrame, right: DataFrame,
      horizon: String = "30 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val l = left.select(
      col("event_id").as("l_event_id"), col("ts").as("l_ts"),
      col("user_id"), col("event_type").as("l_type"))
      .withWatermark("l_ts", watermark)
    val r = right.select(
      col("event_id").as("r_event_id"), col("ts").as("r_ts"),
      col("user_id").as("r_user_id"), col("event_type").as("r_type"))
      .withWatermark("r_ts", watermark)
    l.join(r,
        col("user_id") === col("r_user_id") &&
          col("r_ts") > col("l_ts") &&
          col("r_ts") <= col("l_ts") + expr(s"INTERVAL $horizon"))
      .drop("r_user_id")
  }

  // -- batch-sink integration --------------------------------------- //

  /** Micro-batch landing: hand each micro-batch of an aggregated
    * stream to `land` — the integration point between Structured
    * Streaming and the engine's batch sinks (StarSchemaBuilder
    * appends, partitioned Parquet, MERGE-style upserts). Checkpointing
    * gives at-least-once delivery to `land`; idempotent lands (dedup
    * on batch id or key) upgrade that to effectively-once.
    */
  def foreachBatchSink(
      stream: DataFrame, checkpointDir: String,
      outputMode: String = "update")(
      land: (DataFrame, Long) => Unit)
    : org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch((df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
          id: java.lang.Long) => land(df.toDF(), id))
      .start()

  /** Streaming incremental-ingest dedup: lands each micro-batch of
    * documents into a standing parquet corpus, keeping only texts
    * never seen before (first writer wins across batches, lowest
    * `orderCol` within a batch) — the production shape of
    * [[graft.dedup.Dedup.dedupAgainstBloom]].
    *
    * A driver-held SHARDED Bloom filter over the corpus fingerprints
    * carries the dedup state BETWEEN batches: each batch probes the
    * filter (codegen route + probe expressions, no join) so
    * definitely-new rows — the bulk of a typical increment — never
    * touch the history at all, and only Bloom positives reach the
    * exact anti-join against the (semi-join-pruned, never-shuffled)
    * corpus leg. Survivors append to the corpus and OR into the
    * owning shards (same bit layout, so the merge is exact). Sharding
    * (md5-prefix routing, [[graft.expressions.BloomOps.shardedSizing]])
    * lets capacity scale past the ~1.8e9-item JVM array ceiling a
    * single filter hits: `expectedItems` beyond it simply allocates
    * more shards. On (re)start the shards are rebuilt from the corpus
    * — the filter is a pure function of the landed data, so
    * checkpoint replay of a half-processed batch re-deduplicates
    * idempotently instead of double-inserting.
    */
  def incrementalDedupSink(
      docs: DataFrame, textCol: String, orderCol: String,
      corpusDir: String, checkpointDir: String,
      expectedItems: Long, fpp: Double = 0.01,
      maxShardBytes: Int = graft.expressions.BloomOps.MaxShardBytes)
    : org.apache.spark.sql.streaming.StreamingQuery =
    incrementalDedupSinkImpl(docs, textCol, orderCol, corpusDir,
      checkpointDir, expectedItems, fpp, maxShardBytes, identity)

  /** [[incrementalDedupSink]] with a projection applied to survivors
    * before they land — lets composed sinks strip synthetic order
    * columns ([[incrementalChunkDedupSink]]) without the store
    * carrying them. `land` must keep `textCol` (the restart rebuild
    * and the Bloom fold read it off the landed rows).
    */
  private def incrementalDedupSinkImpl(
      docs: DataFrame, textCol: String, orderCol: String,
      corpusDir: String, checkpointDir: String,
      expectedItems: Long, fpp: Double,
      maxShardBytes: Int,
      land: DataFrame => DataFrame)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    import graft.expressions.{BloomBuild, BloomOps}
    val spark = docs.sparkSession
    def corpusExists: Boolean = {
      val p = new org.apache.hadoop.fs.Path(corpusDir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val (numShards, numHashes, bitsPerShard) =
      BloomOps.shardedSizing(expectedItems, fpp, maxShardBytes)
    val bloom: Array[Array[Byte]] =
      if (corpusExists)
        Dedup.buildShardedFingerprintBloom(
          spark.read.parquet(corpusDir), textCol, expectedItems, fpp,
          maxShardBytes)
      else BloomOps.emptyShards(numShards, numHashes, bitsPerShard)
    // the probe reads the shards through a broadcast (one copy per
    // executor, plan carries only the handle); after a batch mutates
    // the shards the stale handle is destroyed and a fresh snapshot
    // broadcast — probes within a batch always precede the mutation,
    // so local-mode (shared driver array) and cluster-mode
    // (serialized snapshot) behave identically
    var bloomBc: org.apache.spark.broadcast.Broadcast[Array[Array[Byte]]] =
      spark.sparkContext.broadcast(bloom)
    val lock = new Object
    foreachBatchSink(docs, checkpointDir, outputMode = "append") {
      (batch, _) =>
        // cache scope per micro-batch: dedupAgainstBloom persists its
        // in-batch dedup via CacheScope.disk; without a scope on this
        // (streaming) thread the cache registry would grow by one
        // entry per batch for the stream's lifetime. The landed result
        // is localCheckpoint'ed eagerly INSIDE the scope, so releasing
        // the persisted intermediate on exit loses nothing.
        lock.synchronized(graft.core.CacheScope.withScope {
          val survivors =
            if (corpusExists)
              Dedup.dedupAgainstBloom(
                spark.read.parquet(corpusDir), batch, textCol,
                orderCol, bloomBc)
            else Dedup.exactDedupAgg(batch, textCol, orderCol)
          // materialize BEFORE the append — the plan reads the same
          // corpus path the write extends
          val landed = land(survivors).localCheckpoint(eager = true)
          landed.write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(corpusDir)
          // fold the new fingerprints into their shards, SAME bit
          // layout as the standing filter so the OR-merge is exact;
          // one grouped aggregate builds every touched shard at once
          val batchShards = landed
            .select(graft.text.TextAnalysis.fingerprint(col(textCol))
              .as("__fp"))
            .where(col("__fp").isNotNull)
            .groupBy(call_function("graft_bloom_shard",
              col("__fp"), lit(numShards)).as("__shard"))
            .agg(BloomBuild.bloomAgg(numHashes, bitsPerShard)(col("__fp"))
              .as("__b"))
            .collect()
          batchShards.foreach { r =>
            BloomOps.merge(bloom(r.getInt(0)), r.getAs[Array[Byte]](1))
          }
          if (batchShards.nonEmpty) {
            bloomBc.destroy()
            bloomBc = spark.sparkContext.broadcast(bloom)
          }
        })
    }
  }

  /** Streaming CHUNK-level dedup ingestion — [[incrementalDedupSink]]
    * composed with content-defined chunking
    * ([[graft.text.TextAnalysis.chunkByContent]], the streaming twin
    * of [[graft.dedup.Dedup.dedupChunksAgainst]]): each micro-batch
    * of documents is chunked with rolling-hash boundaries (pure
    * projection + generate — stateless, streaming-safe) and only
    * chunks whose text the store has never seen land. Because chunk
    * boundaries are a pure function of LOCAL content, a document
    * re-sent with an edit re-ships ONLY the chunks touching the edit
    * — delta ingestion across batches. The store carries
    * (idCol, chunk_idx, n_tokens, chunk_text); the first writer
    * (lowest (id, chunk_idx)) wins for duplicate chunk texts within a
    * batch, and all of [[incrementalDedupSink]]'s state lifecycle
    * applies (sharded Bloom prefilter sized for `expectedChunks`,
    * rebuild-from-store restart, idempotent checkpoint replay).
    */
  def incrementalChunkDedupSink(
      docs: DataFrame, idCol: String, textCol: String,
      corpusDir: String, checkpointDir: String,
      expectedChunks: Long, fpp: Double = 0.01,
      k: Int = 3, targetTokens: Int = 64,
      maxShardBytes: Int = graft.expressions.BloomOps.MaxShardBytes)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val chunked = graft.text.TextAnalysis.chunkByContent(
        docs, idCol, textCol, k, targetTokens)
      .withColumn("__ord", struct(col(idCol), col("chunk_idx")))
    incrementalDedupSinkImpl(chunked, "chunk_text", "__ord", corpusDir,
      checkpointDir, expectedChunks, fpp, maxShardBytes, _.drop("__ord"))
  }

  /** Streaming incremental NEAR-dup ingestion — [[incrementalDedupSink]]
    * lifted from exact to near duplicates: each micro-batch is
    * in-batch exact-deduped, then checked against the standing corpus
    * via the persisted LSH band index
    * ([[graft.dedup.Dedup.buildLshIndex]] /
    * [[graft.dedup.Dedup.dedupNearAgainst]]); survivors append to the
    * corpus and their band rows append to the index — so the corpus
    * is NEVER re-banded, each batch pays only its own signatures plus
    * candidate-sized verification.
    *
    * Durability order: the index extension lands BEFORE the corpus
    * append. A crash between the two leaves phantom index rows
    * (bands of never-landed docs) — harmless: phantom candidates
    * verify against no corpus text and drop, and the doc's re-arrival
    * lands normally (duplicate band rows collapse in the candidate
    * distinct). The reverse order would let near-dups of unindexed
    * docs slip through. On (re)start with a corpus but no index, the
    * index is rebuilt from the corpus AND PERSISTED to `indexDir`
    * before the batch's own bands append — a transient rebuild would
    * seed `indexDir` with only that batch's bands, and every later
    * micro-batch would probe a partial index, silently missing
    * near-dups of pre-existing corpus documents. Checkpoint replay of
    * a half-processed batch re-deduplicates idempotently (an exact
    * replica verifies at Jaccard 1.0 and drops).
    */
  def incrementalNearDupSink(
      docs: DataFrame, idCol: String, textCol: String, orderCol: String,
      corpusDir: String, indexDir: String, checkpointDir: String,
      n: Int = 3, numHashes: Int = 16, bands: Int = 8,
      threshold: Double = 0.8)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    val spark = docs.sparkSession
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val lock = new Object
    foreachBatchSink(docs, checkpointDir, outputMode = "append") {
      (batch, _) =>
        lock.synchronized(graft.core.CacheScope.withScope {
          val survivors =
            if (exists(corpusDir)) {
              // corpus without index (deleted / never built): rebuild
              // and PERSIST before using it — see durability note above
              if (!exists(indexDir))
                Dedup.buildLshIndex(spark.read.parquet(corpusDir),
                    idCol, textCol, n, numHashes, bands)
                  .write.option("compression", "snappy")
                  .parquet(indexDir)
              Dedup.dedupNearAgainst(spark.read.parquet(corpusDir),
                spark.read.parquet(indexDir), batch, idCol, textCol,
                orderCol, n, numHashes, bands, threshold)
            } else Dedup.exactDedupAgg(batch, textCol, orderCol)
          val landed = survivors.localCheckpoint(eager = true)
          // index first (see durability order above)
          Dedup.buildLshIndex(landed, idCol, textCol, n, numHashes,
              bands)
            .write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(indexDir)
          landed.write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(corpusDir)
        })
    }
  }

  /** Streaming IMAGE-ingest dedup: lands each micro-batch of (id,
    * image bytes) into a standing parquet corpus, dropping perceptual
    * near-duplicates — re-encoded/re-uploaded copies within Hamming
    * `maxDist` of a landed image's 64-bit dHash
    * ([[graft.multimodal.Multimodal.imageDHash]]). The multimodal
    * member of the incremental-dedup sink family (exact sharded-Bloom,
    * LSH near-dup, chunk-level — and now images), completing it.
    *
    * Store lifecycle mirrors [[incrementalNearDupSink]]: the 8-byte
    * sketch store at `sketchDir` is the probe index (the corpus is
    * never re-decoded per batch); each batch sketches ONLY itself and
    * probes via the banded Hamming join. Durability order is
    * sketch-store-first — a crash between the two appends can only
    * leave a sketch whose payload is missing, which makes replays drop
    * dup candidates (dedup-safety) rather than re-land duplicates. On
    * restart with a corpus but no sketch store, the store is rebuilt
    * by re-decoding the corpus ONCE and persisted before use.
    * Within a batch, identical sketches collapse to the lowest
    * `orderCol`; undecodable payloads always land (they can never
    * match) — a corrupt blob must not dam the ingest.
    */
  def incrementalImageDedupSink(
      images: DataFrame, idCol: String, binCol: String,
      orderCol: String, corpusDir: String, sketchDir: String,
      checkpointDir: String, maxDist: Int = 3)
    : org.apache.spark.sql.streaming.StreamingQuery =
    fingerprintDedupSink(images, idCol, orderCol, corpusDir,
      sketchDir, checkpointDir, maxDist, "dhash_hi", "dhash_lo") {
      df =>
        graft.multimodal.Multimodal.imageDHash(df, idCol, binCol)
          .select(col("id").as(idCol), col("dhash_hi"),
            col("dhash_lo"))
    }

  /** Streaming AUDIO-ingest dedup: the [[incrementalImageDedupSink]]
    * lifecycle with the energy-delta hash
    * ([[graft.multimodal.Multimodal.audioEHash]]) as the 8-byte
    * sketch — gain-rescaled re-uploads of a landed recording probe at
    * Hamming 0 and drop; undecodable payloads always land. Same
    * sketch-store-first durability, store-loss rebuild, and
    * idempotent-replay arguments, shared via the common fingerprint
    * sink core. Completes the fingerprint-sink symmetry: exact Bloom,
    * text LSH, chunk, image dHash, embedding SRP, audio.
    */
  def incrementalAudioDedupSink(
      audio: DataFrame, idCol: String, binCol: String,
      orderCol: String, corpusDir: String, sketchDir: String,
      checkpointDir: String, maxDist: Int = 3)
    : org.apache.spark.sql.streaming.StreamingQuery =
    fingerprintDedupSink(audio, idCol, orderCol, corpusDir,
      sketchDir, checkpointDir, maxDist, "ahash_hi", "ahash_lo") {
      df =>
        graft.multimodal.Multimodal.audioEHash(df, idCol, binCol)
          .select(col("id").as(idCol), col("ahash_hi"),
            col("ahash_lo"))
    }

  /** Shared core of the 64-bit-fingerprint dedup sinks: batch sketches
    * only itself, probes the standing sketch store via the banded
    * Hamming join, collapses in-batch identical sketches to the
    * lowest `orderCol`, lands null-sketch rows unconditionally, and
    * appends SKETCH STORE FIRST (a crash between appends leaves a
    * sketch whose payload is missing — replays then drop dup
    * candidates instead of re-landing duplicates). Store-loss restart
    * rebuilds the sketch store from the corpus once.
    */
  private def fingerprintDedupSink(
      rows: DataFrame, idCol: String, orderCol: String,
      corpusDir: String, sketchDir: String, checkpointDir: String,
      maxDist: Int, hiCol: String, loCol: String)(
      sketch: DataFrame => DataFrame)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.dedup.Dedup
    val spark = rows.sparkSession
    val inCols = rows.columns.toSeq
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val lock = new Object
    foreachBatchSink(rows, checkpointDir, outputMode = "append") {
      (batch, _) =>
        lock.synchronized(graft.core.CacheScope.withScope {
          val withSk = batch
            .join(sketch(batch), Seq(idCol))
            .transform(graft.core.CacheScope.disk)
          val keepIds = withSk.where(col(hiCol).isNotNull)
            .groupBy(hiCol, loCol)
            .agg(min_by(col(idCol), col(orderCol)).as(idCol))
            .select(idCol)
          val inBatch = withSk
            .join(keepIds, Seq(idCol), "left_semi")
            .unionByName(withSk.where(col(hiCol).isNull))
          val survivors =
            if (exists(corpusDir)) {
              if (!exists(sketchDir))
                sketch(spark.read.parquet(corpusDir))
                  .write.option("compression", "snappy")
                  .parquet(sketchDir)
              val matched = Dedup.hammingBandedMatches(
                  spark.read.parquet(sketchDir),
                  inBatch.select(idCol, hiCol, loCol),
                  idCol, hiCol, loCol, maxDist)
                .select(col("batch_id").as(idCol)).distinct()
              inBatch.join(matched, Seq(idCol), "left_anti")
            } else inBatch
          val landed = survivors.localCheckpoint(eager = true)
          // sketch store first (see durability note above)
          landed.select(idCol, hiCol, loCol)
            .write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(sketchDir)
          landed.select(inCols.map(col): _*)
            .write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(corpusDir)
        })
    }
  }

  /** Streaming EMBEDDING-ingest dedup: lands each micro-batch of
    * (id, vector) rows into a standing parquet corpus, dropping
    * verified near-duplicates — re-encoded vectors within Hamming
    * `maxDist` of a landed vector's 64-bit SRP sketch AND exact
    * cosine ≥ `minCos`
    * ([[graft.similarity.Similarity.dedupEmbeddingAgainst]]).
    * Completes the incremental-dedup sink family: exact sharded-Bloom,
    * text LSH, chunk-level, image dHash — and now embeddings.
    *
    * Store lifecycle mirrors [[incrementalImageDedupSink]]: the
    * 8-byte-per-vector SRP sketch index at `indexDir` is the probe
    * side; each batch sketches ONLY itself, and the corpus's vectors
    * are read candidate-sized (semi-joined to sketch hits) at the
    * exact-cosine verify — never scanned per batch. Durability order
    * is index-first (the [[incrementalNearDupSink]] argument): a
    * crash between the two appends leaves phantom index rows whose
    * corpus vector is missing — phantom candidates find no corpus leg
    * at the verify join and drop, and the row's re-arrival lands
    * normally — while corpus-first would let near-dups of unindexed
    * vectors slip through. Checkpoint replay of a half-processed
    * batch re-deduplicates idempotently (an exact replica probes at
    * Hamming 0, verifies at cosine 1.0, and drops). On restart with a
    * corpus but no index, the index is rebuilt from the corpus ONCE
    * and persisted before use. Within a batch, rows with identical
    * vectors collapse to the lowest `orderCol` (the embedding form of
    * exact dedup); null vectors land FIRST-ARRIVAL-ONLY and are never
    * indexed — a bad row must not dam the ingest, but it has no
    * sketch to re-dedup through on replay, so its idempotence path is
    * an id anti-join against the landed corpus (an id-column-only
    * scan, null-row-sized probe side): a checkpoint replay after a
    * crash between the corpus append and the commit re-lands neither
    * vector rows (Hamming-0 / cosine-1.0 drop) nor null rows (id
    * already landed).
    */
  def incrementalEmbeddingDedupSink(
      vecs: DataFrame, idCol: String, vecCol: String,
      orderCol: String, corpusDir: String, indexDir: String,
      checkpointDir: String, dim: Int,
      maxDist: Int = 3, minCos: Double = 0.98)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.similarity.Similarity
    val spark = vecs.sparkSession
    val inCols = vecs.columns.toSeq
    def exists(dir: String): Boolean = {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    }
    val lock = new Object
    foreachBatchSink(vecs, checkpointDir, outputMode = "append") {
      (batch, _) =>
        lock.synchronized(graft.core.CacheScope.withScope {
          val b = batch.transform(graft.core.CacheScope.disk)
          val withVec = b.where(col(vecCol).isNotNull)
          val keepIds = withVec
            .groupBy(col(vecCol))
            .agg(min_by(col(idCol), col(orderCol)).as(idCol))
            .select(idCol)
          val inBatch = withVec.join(keepIds, Seq(idCol), "left_semi")
          val survivors =
            if (exists(corpusDir)) {
              // corpus without index (deleted / never built): rebuild
              // and PERSIST before using it — a transient rebuild
              // would leave later batches probing a partial index
              if (!exists(indexDir))
                Similarity.buildSrpIndex(
                    spark.read.parquet(corpusDir)
                      .where(col(vecCol).isNotNull),
                    idCol, vecCol, dim)
                  .write.option("compression", "snappy")
                  .parquet(indexDir)
              Similarity.dedupEmbeddingAgainst(
                spark.read.parquet(indexDir),
                spark.read.parquet(corpusDir), inBatch,
                idCol, vecCol, dim, maxDist, minCos)
            } else inBatch
          // null-row idempotence: no sketch to probe, so replays drop
          // by id against the landed corpus (id-only corpus column)
          val nullRows = b.where(col(vecCol).isNull)
          val nullLanded =
            if (exists(corpusDir))
              nullRows.join(
                spark.read.parquet(corpusDir).select(idCol),
                Seq(idCol), "left_anti")
            else nullRows
          val landed = survivors
            .unionByName(nullLanded)
            .localCheckpoint(eager = true)
          // index first (see durability order above)
          Similarity.buildSrpIndex(
              landed.where(col(vecCol).isNotNull), idCol, vecCol, dim)
            .write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(indexDir)
          landed.select(inCols.map(col): _*)
            .write.mode(SaveMode.Append)
            .option("compression", "snappy").parquet(corpusDir)
        })
    }
  }

  /** Streaming corpus-datasheet maintenance: each micro-batch builds
    * its OWN shard datasheet ([[graft.text.TextAnalysis
    * .datasheetShards]] — additive counts + a mergeable
    * DataSketches-HLL vocabulary sketch) and lands it under
    * `batch_id=<id>` with OVERWRITE, so checkpoint replay rewrites
    * the same shard instead of double-appending — exactly-once
    * effect from at-least-once delivery without reading history. The
    * live datasheet is ONE [[graft.text.TextAnalysis
    * .mergeDatasheets]] over the store ([[liveDatasheet]]): per-batch
    * work scales with the batch, datasheet reads scale with the
    * number of batches × groups (compactable by rewriting merged
    * shards under a reserved id — same merge algebra). The streaming
    * shape of q148.
    */
  def datasheetMaintenanceSink(
      docs: DataFrame, idCol: String, textCol: String,
      groupCols: Seq[String], storeDir: String, checkpointDir: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landDatasheetShard(batch, id, idCol, textCol, groupCols,
          storeDir)
    }

  private[streaming] def landDatasheetShard(
      batch: DataFrame, id: Long, idCol: String, textCol: String,
      groupCols: Seq[String], storeDir: String): Unit =
    graft.text.TextAnalysis
      .datasheetShards(batch, idCol, textCol, groupCols, lit(id))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/batch_id=$id")

  /** The merged live datasheet over a [[datasheetMaintenanceSink]]
    * store. Partition discovery adds the `batch_id` column; the merge
    * groups by `groupCols` only, so shards collapse.
    */
  def liveDatasheet(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, groupCols: Seq[String]): DataFrame =
    graft.text.TextAnalysis
      .mergeDatasheets(spark.read.parquet(storeDir), groupCols)

  /** Streaming BM25 lexical-index maintenance — the retrieval stack's
    * missing incremental leg (every fingerprint family had a
    * maintenance sink; BM25's postings/df/lengths were rebuilt from
    * scratch per query): each micro-batch builds its own
    * [[graft.text.TfIdf.bm25IndexShard]] and lands it under
    * `batch_id=<id>` with OVERWRITE, so checkpoint replay rewrites
    * the same shard instead of double-appending. Searches probe the
    * standing store via [[graft.text.TfIdf.bm25SearchOverIndex]] —
    * bit-identical to a from-scratch [[graft.text.TfIdf.bm25Search]]
    * over the same documents (shared scoring core).
    */
  def bm25IndexMaintenanceSink(
      docs: DataFrame, idCol: String, textCol: String,
      storeDir: String, checkpointDir: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landBm25IndexShard(batch, id, idCol, textCol, storeDir)
    }

  private[streaming] def landBm25IndexShard(
      batch: DataFrame, id: Long, idCol: String, textCol: String,
      storeDir: String): Unit =
    graft.text.TfIdf
      .bm25IndexShard(batch, idCol, textCol, lit(id))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/batch_id=$id")

  /** The standing BM25 index over a [[bm25IndexMaintenanceSink]]
    * store, ready for [[graft.text.TfIdf.bm25SearchOverIndex]].
    */
  def liveBm25Index(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(storeDir)

  /** Compact a [[bm25IndexMaintenanceSink]] store to one shard in a
    * NEW store dir (rewrite-then-flip, the [[compactDatasheetStore]]
    * crash-safety argument): rows are per-doc facts, so compaction is
    * the pure re-tag of [[graft.text.TfIdf.compactBm25IndexShards]].
    */
  def compactBm25Store(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, newStoreDir: String): Unit =
    graft.text.TfIdf
      .compactBm25IndexShards(
        spark.read.parquet(storeDir).drop("batch_id"), shardId = 0L)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$newStoreDir/batch_id=0")

  /** Streaming near-dup PAIR-STORE maintenance
    * ([[graft.dedup.Dedup.PairStore]]): each micro-batch of documents
    * lands its signature shard, its distinct-shingle-hash shard, and
    * the verified pairs the batch COMPLETES (batch bands against the
    * standing band projection — old×old pairs are never re-derived)
    * under `batch_id=<id>` with OVERWRITE. The delta is a
    * deterministic function of (prior store, batch) over md5/xxhash64
    * families, so checkpoint replay rewrites byte-identical shards —
    * the [[mwDriftMaintenanceSink]] idempotency argument. The unioned
    * store equals the [[graft.dedup.Dedup.minhashLshPairs]] full
    * rebuild at every batch boundary (spec-pinned), which is what
    * lets the q363 detector audits read a standing table instead of
    * re-running the LSH chain per report.
    */
  def pairStoreMaintenanceSink(
      docs: DataFrame, idCol: String, textCol: String,
      storeDir: String, checkpointDir: String, n: Int = 3,
      numHashes: Int = 16, bands: Int = 8, threshold: Double = 0.8)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(docs, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landPairStoreShard(batch, id, idCol, textCol, storeDir, n,
          numHashes, bands, threshold)
    }

  private[graft] def landPairStoreShard(
      batch: DataFrame, id: Long, idCol: String, textCol: String,
      storeDir: String, n: Int, numHashes: Int, bands: Int,
      threshold: Double): Unit = {
    val spark = batch.sparkSession
    val empty = graft.dedup.Dedup.emptyPairStore(spark, idCol,
      numHashes)
    // prior = shards landed by batches < id; the batch_id partition
    // column filters out this batch's own crashed half-write on a
    // checkpoint replay
    def readOr(sub: String, fallback: DataFrame): DataFrame =
      try spark.read.parquet(s"$storeDir/$sub")
        .where(col("batch_id") =!= id).drop("batch_id")
      catch { case _: org.apache.spark.sql.AnalysisException =>
        fallback }
    val prior = graft.dedup.Dedup.PairStore(
      readOr("sigs", empty.signatures),
      readOr("shingles", empty.shingles),
      empty.pairs) // pairs aren't an input to the delta
    val delta = graft.dedup.Dedup.pairStoreDelta(prior, batch,
      idCol, textCol, n, numHashes, bands, threshold)
    delta.signatures.write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/sigs/batch_id=$id")
    delta.shingles.write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/shingles/batch_id=$id")
    delta.pairs.write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/pairs/batch_id=$id")
  }

  /** The standing verified-pair table over a
    * [[pairStoreMaintenanceSink]] store — the frame the detector
    * audits read.
    */
  def livePairStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/pairs")
      .select("id_a", "id_b", "jaccard")

  /** Streaming Mann–Whitney drift maintenance — the drift family's
    * rank-test leg (the CUSUM stream watches a level against a FIXED
    * target; this watches the whole CURRENT distribution against a
    * baseline SNAPSHOT): each micro-batch lands its per-(group,
    * value) count shard under `batch_id=<id>` with OVERWRITE
    * (checkpoint replay rewrites the same shard — idempotent), and
    * the live monitor merges the store into the test's sufficient
    * statistic via [[graft.quality.Drift.mannWhitneyUFromCounts]] —
    * equality with the batch [[graft.quality.Drift.mannWhitneyU]]
    * over the union of all batches is spec-pinned, and since the
    * whole test is integer-exact half-unit ranks, stream == batch
    * needs no float argument (the q205 CUSUM-twin contract).
    *
    * State: per batch, one row per (group, DISTINCT value) — the
    * count-shard shape every sketch sink here lands; the monitor
    * never rescans raw history.
    */
  def mwDriftMaintenanceSink(
      stream: DataFrame, valueCol: String, groupCols: Seq[String],
      storeDir: String, checkpointDir: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landMwCountShard(batch, id, valueCol, groupCols, storeDir)
    }

  private[streaming] def landMwCountShard(
      batch: DataFrame, id: Long, valueCol: String,
      groupCols: Seq[String], storeDir: String): Unit =
    batch
      .where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+
        col(valueCol).cast("double").as("value"): _*)
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(count(lit(1)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/batch_id=$id")

  /** The live MW drift report over a [[mwDriftMaintenanceSink]]
    * store vs a baseline snapshot: merge the store's shards (counts
    * are additive), count the baseline the same way, run the
    * counts-based test.
    */
  def liveMwDrift(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      baseline: DataFrame, valueCol: String, groupCols: Seq[String],
      zAlpha: Double = 1.96): DataFrame = {
    val cur = spark.read.parquet(storeDir)
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(sum(col("n")).as("n"))
    val base = baseline
      .where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+
        col(valueCol).cast("double").as("value"): _*)
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(count(lit(1)).as("n"))
    graft.quality.Drift.mannWhitneyUFromCounts(base, cur,
      "value", "n", groupCols, zAlpha)
  }

  /** The live THREE-ALARM drift panel over the same
    * [[mwDriftMaintenanceSink]] store: the per-(group, value) count
    * shards are the sufficient statistic for the whole two-sample
    * family, so one standing store serves KS, Cramér–von Mises and
    * Mann–Whitney at once via
    * [[graft.quality.Drift.driftPanelFromCounts]] — no second sink,
    * no raw-history rescan (the cf681d1 one-store-many-monitors
    * pattern, lifted from the bucket-sum store to the value-count
    * store).
    */
  def liveDriftPanel(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      baseline: DataFrame, valueCol: String, groupCols: Seq[String],
      cAlpha: Double = 1.358, cvmThreshold: Double = 0.461,
      zAlpha: Double = 1.96): DataFrame = {
    val cur = spark.read.parquet(storeDir)
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(sum(col("n")).as("n"))
    val base = baseline
      .where(col(valueCol).isNotNull)
      .select(groupCols.map(col) :+
        col(valueCol).cast("double").as("value"): _*)
      .groupBy(groupCols.map(col) :+ col("value"): _*)
      .agg(count(lit(1)).as("n"))
    graft.quality.Drift.driftPanelFromCounts(base, cur, "value", "n",
      groupCols, cAlpha, cvmThreshold, zAlpha)
  }

  /** Streaming Holt-forecast maintenance: each micro-batch lands its
    * per-(group, bucket) value-cents SUMS under `batch_id=<id>` with
    * OVERWRITE (replay-idempotent). Holt's (level, trend) state is
    * NOT additive — folding it per batch would bake in arrival order
    * — but the per-bucket sums ARE the recursion's sufficient
    * statistic, so the store keeps those (bounded by buckets touched,
    * never row count) and [[liveHoltForecast]] folds the merged,
    * bucket-ordered series on read via
    * [[graft.operators.Analytics.holtForecast]]. Same philosophy as
    * [[mwDriftMaintenanceSink]]: maintain the additive statistic,
    * compute the order-sensitive answer at read time. Late rows for
    * an old bucket land in a NEW shard and merge into the right
    * bucket on read — the fold re-runs, so lateness never corrupts
    * state (the [[graft.operators.Analytics.holtResume]] fast path
    * is for callers who CAN guarantee the watermark).
    */
  def holtMaintenanceSink(
      stream: DataFrame, groupCols: Seq[String], bucketCol: String,
      valueCents: Column, storeDir: String, checkpointDir: String)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landHoltBucketShard(batch, id, groupCols, bucketCol,
          valueCents, storeDir)
    }

  private[streaming] def landHoltBucketShard(
      batch: DataFrame, id: Long, groupCols: Seq[String],
      bucketCol: String, valueCents: Column, storeDir: String): Unit =
    batch
      .select(groupCols.map(col) ++ Seq(col(bucketCol).as("bucket"),
        valueCents.cast("long").as("x")): _*)
      .where(col("bucket").isNotNull && col("x").isNotNull)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(sum(col("x")).as("x"))
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/batch_id=$id")

  /** The live Holt forecast over a [[holtMaintenanceSink]] store:
    * merge the shards' per-bucket sums (additive) and fold the
    * recursion — bit-equal to the batch forecast over the union.
    */
  def liveHoltForecast(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      groupCols: Seq[String], alphaMilli: Int = 300,
      betaMilli: Int = 100): DataFrame =
    graft.operators.Analytics.holtForecast(
      spark.read.parquet(storeDir), groupCols, col("bucket"),
      col("x"), alphaMilli, betaMilli)

  /** Theil–Sen robust trend over the SAME [[holtMaintenanceSink]]
    * store — the point of storing the additive per-bucket statistic
    * instead of any one monitor's state: one standing store serves
    * every bucket-series consumer. Buckets must be numeric (the
    * slope's x axis); same bit-equal-to-batch contract.
    */
  def liveTheilSenTrend(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      groupCols: Seq[String]): DataFrame =
    graft.operators.Analytics.theilSenTrend(
      spark.read.parquet(storeDir), groupCols, col("bucket"),
      col("x"))

  /** Streaming count-min-sketch maintenance: each micro-batch lands
    * its own [[graft.quality.CountMin.cmsShards]] grid under
    * `batch_id=<id>` with OVERWRITE (replay-idempotent); the live
    * sketch is one [[graft.quality.CountMin.mergeCmsShards]] over the
    * store. Per-batch state is ≤ depth × width cells however many
    * distinct items flow through — the standing per-token frequency
    * tracker that never materializes the vocabulary.
    */
  def cmsMaintenanceSink(
      stream: DataFrame, itemCol: String, storeDir: String,
      checkpointDir: String, depth: Int = 4, width: Int = 512)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landCmsShard(batch, id, itemCol, storeDir, depth, width)
    }

  private[streaming] def landCmsShard(
      batch: DataFrame, id: Long, itemCol: String, storeDir: String,
      depth: Int, width: Int): Unit =
    graft.quality.CountMin
      .cmsShards(batch, col(itemCol), lit(id), depth, width)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/batch_id=$id")

  /** The merged live CMS grid over a [[cmsMaintenanceSink]] store. */
  def liveCms(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String): DataFrame =
    graft.quality.CountMin
      .mergeCmsShards(spark.read.parquet(storeDir))

  /** Streaming Misra–Gries heavy-hitter maintenance — the
    * deterministic-candidate sibling of [[cmsMaintenanceSink]]: each
    * micro-batch lands its ≤ k-counter
    * [[graft.quality.HeavyHitters.mgShards]] summary under
    * `batch_id=<id>` with OVERWRITE (checkpoint replay rewrites the
    * shard instead of double-counting — exactly-once effect from
    * at-least-once delivery). The live candidate set is one
    * [[graft.quality.HeavyHitters.mergeMgShards]] over the store:
    * after N streamed items, every value with true count > N/(k+1)
    * is guaranteed present, however the batches were cut.
    */
  def mgMaintenanceSink(
      stream: DataFrame, itemCol: String, storeDir: String,
      checkpointDir: String, k: Int = 255)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(stream, checkpointDir, outputMode = "append") {
      (batch, id) =>
        landMgShard(batch, id, itemCol, storeDir, k)
    }

  private[streaming] def landMgShard(
      batch: DataFrame, id: Long, itemCol: String, storeDir: String,
      k: Int): Unit =
    graft.quality.HeavyHitters
      .mgShards(batch, col(itemCol), lit(id), k)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$storeDir/batch_id=$id")

  /** Live merged MG candidates over a [[mgMaintenanceSink]] store. */
  def liveMgCandidates(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, k: Int = 255): DataFrame =
    graft.quality.HeavyHitters
      .mergeMgShards(spark.read.parquet(storeDir), k)

  /** Compact a [[datasheetMaintenanceSink]] store: all shards
    * collapse to ONE (counts summed, sketches unioned —
    * [[graft.text.TextAnalysis.compactDatasheetShards]]) written to
    * `newStoreDir` as `batch_id=0`. Rewrite-to-new-store on purpose:
    * in-place compaction has no safe ordering on a plain filesystem
    * (compacted-then-delete double-counts on a crash between,
    * delete-then-write loses data), so the caller flips a pointer to
    * the new store once the write commits — the index-rebuild
    * pattern. The live datasheet is identical before and after
    * (spec-pinned: same merge algebra, same registers).
    */
  def compactDatasheetStore(
      spark: org.apache.spark.sql.SparkSession,
      storeDir: String, newStoreDir: String,
      groupCols: Seq[String]): Unit =
    graft.text.TextAnalysis
      .compactDatasheetShards(
        spark.read.parquet(storeDir).drop("batch_id"), groupCols,
        shardId = 0L)
      .write.mode(SaveMode.Overwrite)
      .parquet(s"$newStoreDir/batch_id=0")

  /** Streaming quantile-datasheet maintenance — the percentile sibling
    * of [[datasheetMaintenanceSink]], completing the shard algebra's
    * streaming story for [[graft.quality.Drift.quantileShards]]: each
    * micro-batch lands its own per-group KLL sketch shard under
    * `batch_id=<id>` with OVERWRITE, so checkpoint replay REWRITES the
    * same shard instead of double-counting it (exactly-once effect
    * from at-least-once delivery, no history read). The live view is
    * one [[graft.quality.Drift.mergeQuantileShards]] over the store;
    * [[graft.quality.Drift.compactQuantileShards]] collapses aged
    * shards under the same algebra (rewrite-to-new-store, the
    * [[compactDatasheetStore]] argument).
    */
  def quantileMaintenanceSink(
      rows: DataFrame, groupCols: Seq[String], value: Column,
      storeDir: String, checkpointDir: String, k: Int = 8192)
    : org.apache.spark.sql.streaming.StreamingQuery =
    foreachBatchSink(rows, checkpointDir, outputMode = "append") {
      (batch, id) =>
        graft.quality.Drift
          .quantileShards(batch, groupCols, value, lit(id), k)
          .write.mode(SaveMode.Overwrite)
          .parquet(s"$storeDir/batch_id=$id")
    }

  /** Live per-group quantiles over a [[quantileMaintenanceSink]]
    * store (partition discovery adds `batch_id`; the merge collapses
    * it).
    */
  def liveQuantiles(
      spark: org.apache.spark.sql.SparkSession, storeDir: String,
      groupCols: Seq[String], ranks: Seq[Double],
      k: Int = 8192): DataFrame =
    graft.quality.Drift.mergeQuantileShards(
      spark.read.parquet(storeDir), groupCols, ranks, k)

  /** Streaming cluster-label maintenance — the near-dup CLUSTER layer's
    * incremental story (every fingerprint family lands candidate
    * pairs incrementally; until now their component labels were a
    * batch recompute): each micro-batch of verified pairs folds into
    * the standing `(id, component)` store via
    * [[graft.dedup.ConnectedComponents.incremental]] — cost
    * O(batch + touched components), never O(graph).
    *
    * Store layout is hash-bucketed (`bucket = pmod(hash(id), n)`),
    * and each batch rewrites ONLY the buckets holding a changed or
    * new label (dynamic partition overwrite; rewritten buckets get
    * their FULL updated contents, so unchanged rows in a touched
    * bucket survive). A batch that merges nothing — including a
    * checkpoint REPLAY of an already-folded batch, which contracts to
    * all-self-loops — touches zero buckets and rewrites nothing:
    * replay idempotence without reading history. The new labels
    * frame is localCheckpoint'ed before the write (it reads the same
    * store path it overwrites — the self-read-under-overwrite
    * ordering every store-rewriting sink here pins).
    *
    * The lock serializes micro-batches against out-of-band readers in
    * the same JVM during the non-atomic multi-partition commit; cross
    * -JVM readers see torn bucket sets only during the commit window
    * (a table format with atomic multi-partition swap closes it in
    * production — same caveat as the SCD-2 sink).
    */
  def clusterMaintenanceSink(
      pairs: DataFrame, aCol: String, bCol: String,
      labelsDir: String, checkpointDir: String, numBuckets: Int = 64)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val lock = new Object
    foreachBatchSink(pairs, checkpointDir, outputMode = "append") {
      (batch, _) =>
        lock.synchronized(graft.core.CacheScope.withScope {
          landClusterBatch(batch, aCol, bCol, labelsDir, numBuckets)
        })
    }
  }

  private[streaming] def landClusterBatch(
      batch: DataFrame, aCol: String, bCol: String,
      labelsDir: String, numBuckets: Int): Unit = {
    import graft.dedup.ConnectedComponents
    val spark = batch.sparkSession
    val p = new org.apache.hadoop.fs.Path(labelsDir)
    val exists =
      p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
    def bucketed(df: DataFrame): DataFrame =
      df.withColumn("bucket", pmod(hash(col("id")), lit(numBuckets)))
    if (!exists) {
      val (labels, converged) =
        ConnectedComponents.componentsAuto(batch, aCol, bCol)
      require(converged, "initial labeling did not converge")
      bucketed(labels).localCheckpoint(true)
        .write.mode(SaveMode.Overwrite)
        .option("compression", "snappy")
        .partitionBy("bucket").parquet(labelsDir)
    } else {
      val standing = spark.read.parquet(labelsDir)
        .select(col("id"), col("component"))
      val updated = ConnectedComponents
        .incremental(standing, batch, aCol, bCol)
        .localCheckpoint(true)
      val touched = bucketed(
          updated.join(standing
              .withColumnRenamed("component", "__old"), Seq("id"), "left")
            .where(col("__old").isNull ||
              col("__old") =!= col("component"))
            .select("id", "component"))
        .select("bucket").distinct()
      // full updated contents of ONLY the touched buckets; dynamic
      // overwrite leaves every other bucket's files untouched
      val rewrite = bucketed(updated)
        .join(broadcast(touched), Seq("bucket"), "left_semi")
        .localCheckpoint(true)
      if (!rewrite.isEmpty) {
        rewrite.select("id", "component", "bucket")
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .option("compression", "snappy")
          .partitionBy("bucket").parquet(labelsDir)
      }
    }
  }

  /** The standing labels over a [[clusterMaintenanceSink]] store. */
  def liveClusters(
      spark: org.apache.spark.sql.SparkSession,
      labelsDir: String): DataFrame =
    spark.read.parquet(labelsDir).select("id", "component")

  /** Streaming ANN-index maintenance — the IVF / IVF-PQ analogue of
    * the sketch and fingerprint maintenance sinks, completing the one
    * index family that had batch append ([[graft.similarity.Similarity
    * .ivfIndexAppend]]) but no streaming lifecycle: each micro-batch
    * of `(id, vector)` rows becomes index rows for the `codec`
    * ([[graft.similarity.Similarity.annIndexRows]]: assigned to the
    * FIXED centroid set and, for a PQ codec, encoded against the fixed
    * codebooks) and lands in the standing index store at `indexDir`.
    *
    * Store layout and exactly-once: a parquet directory partitioned by
    * `(__batch, centroid_id)`, written with DYNAMIC partition
    * overwrite. `__batch` is NOT the engine's batch id — it is an
    * order-independent CONTENT key of the batch (row count + two
    * independent wrapped sums of per-id xxhash64), so the landing is
    * idempotent under every redelivery shape: checkpoint replay of a
    * half-processed batch recomputes the same key and rewrites its own
    * partitions with identical content (the index rows are a pure
    * function of the batch at fixed centroids/codebooks), and a batch
    * re-sent through a NEW checkpoint (engine batch ids restart at 0)
    * still lands on its own key instead of clobbering an unrelated
    * batch's partition or duplicating rows. A key collision between
    * two batches with DIFFERENT id sets would drop the earlier one —
    * 128 effective bits make that ~2^-128 per pair, the md5-fingerprint
    * argument the dedup family already relies on. Re-sending an id
    * with a CHANGED vector is an update, which an append-only index
    * does not model — route updates through a rebuild. The
    * `centroid_id` partition level keeps the probe path pruned: a
    * search touching `nprobe` buckets reads only those directories,
    * the same locality the batch builds get from `bucketBy`.
    *
    * Restart needs NO rebuild — unlike the Bloom sinks the store IS
    * the state (there is no driver-held structure to reconstruct);
    * a restarted query just keeps landing batches. Centroids drift as
    * batches accumulate; [[graft.similarity.Similarity
    * .ivfDriftReport]] over [[liveAnnIndex]] is the standing
    * re-train trigger, and re-training means re-building the store
    * from the corpus (centroids are part of the index's identity).
    *
    * Readers: [[liveAnnIndex]] + [[graft.similarity.Similarity
    * .ivfTopK]] with the same `codec`. At fixed centroids and
    * codebooks the landed store is row-identical to a from-scratch
    * batch build over the union of all batches (spec-pinned), so
    * readers need no streaming-specific handling.
    */
  def annIndexMaintenanceSink(
      vecs: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, indexDir: String, checkpointDir: String,
      codec: IvfCodec = IvfCodec.Vectors, roundTo: Int = 4)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    val lock = new Object
    foreachBatchSink(vecs, checkpointDir, outputMode = "append") {
      (batch, _) =>
        lock.synchronized(graft.core.CacheScope.withScope {
          landAnnBatch(batch, idCol, vecCol, cents, codec,
            indexDir, roundTo)
        })
    }
  }

  private[streaming] def landAnnBatch(
      batch: DataFrame, idCol: String, vecCol: String,
      cents: DataFrame, codec: IvfCodec,
      indexDir: String, roundTo: Int): Unit = {
    // order-independent content key: wrapped sums commute, so the key
    // is invariant to partitioning and delivery order; two independent
    // hash folds + the count give 128 effective bits (see scaladoc)
    val keyRow = batch.agg(
      count(lit(1)).as("n"),
      sum(xxhash64(col(idCol))).as("h1"),
      sum(xxhash64(col(idCol), lit("graft_ann_salt"))).as("h2")).head()
    if (keyRow.getLong(0) > 0L) {
      val key = f"b${keyRow.getLong(0)}_${keyRow.getLong(1)}%016x" +
        f"_${keyRow.getLong(2)}%016x"
      graft.similarity.Similarity
        .annIndexRows(batch, idCol, vecCol, cents, codec, roundTo)
        .withColumn("__batch", lit(key))
        .write.mode(SaveMode.Overwrite)
        .option("partitionOverwriteMode", "dynamic")
        .option("compression", "snappy")
        .partitionBy("__batch", "centroid_id")
        .parquet(indexDir)
    }
  }

  /** The standing index over an [[annIndexMaintenanceSink]] store:
    * [[graft.similarity.Similarity.annIndexRows]]' layout for the
    * sink's codec, which [[graft.similarity.Similarity.ivfTopK]] reads
    * with that codec — `__batch` is the store's replay unit, not part
    * of the index.
    */
  def liveAnnIndex(
      spark: org.apache.spark.sql.SparkSession,
      indexDir: String): DataFrame =
    spark.read.parquet(indexDir).drop("__batch")

  /** Streaming SCD-2 dimension maintenance: lands each micro-batch of
    * keyed attribute observations into the versioned dimension at
    * `path` via [[graft.transform.StarSchemaBuilder
    * .upsertDimensionScd2]] — the streaming shape of warehouse
    * MERGE-based SCD-2, completing the family (batch derive → batch
    * upsert → streaming upsert).
    *
    * Correctness rides entirely on the batch upsert's proven
    * guarantees: it is IDEMPOTENT (checkpoint replay of a
    * half-processed batch re-applies observations without moving the
    * history — exactly-once effect from at-least-once delivery),
    * no-op-safe, and late-arrival sequence-correct (each version row
    * retains BOTH endpoints of its observation run, so an
    * out-of-order observation splices between the retained endpoints
    * around it). Micro-batches may therefore arrive in ANY order and
    * the stored history converges to the batch [[graft.transform
    * .StarSchemaBuilder.scd2Versions]] derivation over the union of
    * all observations (spec-checked), up to the documented compaction
    * artifact for observations strictly interior to a version's run.
    * Empty micro-batches skip the rewrite.
    */
  def scd2DimensionSink(
      updates: DataFrame, path: String, checkpointDir: String,
      keyCols: Seq[String], attrCols: Seq[String], orderCol: String,
      tieBreak: Seq[String] = Nil)
    : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.transform.StarSchemaBuilder
    val lock = new Object
    foreachBatchSink(updates, checkpointDir, outputMode = "append") {
      (batch, _) =>
        lock.synchronized {
          if (!batch.isEmpty) {
            StarSchemaBuilder.upsertDimensionScd2(
              batch.sparkSession, path, batch, keyCols, attrCols,
              orderCol, tieBreak)
          }
        }
    }
  }

  // -- custom state (mapGroupsWithState) ---------------------------- //

  case class AnomalyEvent(
      event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      value_cents: Long)
  case class ScoredEvent(
      event_id: Long, user_id: Long, roll_n: Long,
      roll_mean: Option[Double], roll_std: Option[Double],
      zscore: Option[Double], is_anomaly: Int)
  case class RollEv(tsUs: Long, id: Long, v: Long, emitted: Boolean)
  case class RollBuf(evs: Seq[RollEv])

  /** Streaming twin of [[graft.operators.Analytics.rollingStats]] —
    * q130's trailing-baseline z-score over a watermarked stream, the
    * monitoring family's streaming counterpart.
    *
    * The batch operator scores each event against its key's
    * observations in `[t − windowSec, t)`. That baseline is only
    * COMPLETE once no older event can still arrive — i.e. once the
    * watermark has passed `t` — so this operator buffers events per
    * key in `flatMapGroupsWithState` and emits an event's score
    * exactly when the watermark closes it. Emitted rows are therefore
    * FINAL (append-mode, never revised) and provably equal to the
    * batch twin over the arrived events — the spec pins row-for-row
    * equality, same exact-integer (n, Σv, Σv²) statistics and op
    * sequence as the batch window frame (exact-ts peers excluded).
    *
    * Late-data policy: events older than the watermark are dropped
    * (the module-wide choice) — they can no longer influence any
    * unclosed baseline, so dropped-late and closed-final are the same
    * boundary. State per key is the in-horizon buffer — events newer
    * than `watermark − windowSec` — bounded by window span × event
    * rate like the batch frame, NOT by key history; a key whose
    * buffer ages out entirely is removed via event-time timeout
    * (which also wakes quiet keys so pending events close without new
    * per-key data).
    *
    * Scale shape: one shuffle on the key (same as the batch window's
    * exchange); per-invocation work is O(buffer) per pending event
    * with vocabulary-independent state — the streaming price for the
    * batch plan's sliding-frame processor.
    */
  def rollingAnomalyStream(
      events: Dataset[AnomalyEvent], windowSec: Long,
      zThreshold: Double = 3.0, minCount: Int = 2,
      watermark: String = "2 hours"): Dataset[ScoredEvent] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    require(windowSec > 0, "windowSec must be positive")
    val wUs = windowSec * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[RollBuf, ScoredEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (uid, it, state) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          def us(t: java.sql.Timestamp): Long = {
            val i = t.toInstant
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }
          // same late policy as the engine drop (defensive — the
          // stateful operator already filters sub-watermark rows)
          val incoming = it
            .map(e => RollEv(us(e.ts), e.event_id, e.value_cents,
              emitted = false))
            .filter(_.tsUs >= wmUs).toSeq
          val all = state.getOption.map(_.evs).getOrElse(Seq.empty) ++
            incoming
          val pending = all.filter(e => !e.emitted && e.tsUs <= wmUs)
            .sortBy(e => (e.tsUs, e.id))
          val out = pending.map { e =>
            val base = all.filter(b =>
              b.tsUs >= e.tsUs - wUs && b.tsUs < e.tsUs)
            val n = base.size.toLong
            if (n == 0L) ScoredEvent(e.id, uid, 0L, None, None, None, 0)
            else {
              // exact long (n, Σv, Σv²); the batch operator's op
              // sequence verbatim, so doubles match bit-for-bit
              val s1 = base.iterator.map(_.v).sum
              val s2 = base.iterator.map(b => b.v * b.v).sum
              val mean = s1.toDouble / n
              val varPop = (n * s2 - s1 * s1).toDouble / (n * n).toDouble
              val std = math.sqrt(varPop)
              val z = ((e.v * n - s1).toDouble / n) / std
              val ok = n >= minCount && varPop > 0
              ScoredEvent(e.id, uid, n, Some(mean), Some(std),
                if (ok) Some(z) else None,
                if (ok && math.abs(z) > zThreshold) 1 else 0)
            }
          }
          val kept = all
            .map(e => if (!e.emitted && e.tsUs <= wmUs)
              e.copy(emitted = true) else e)
            .filter(_.tsUs >= wmUs - wUs)
          if (kept.isEmpty) state.remove()
          else {
            state.update(RollBuf(kept))
            val wmMs = state.getCurrentWatermarkMs()
            val stillPending = kept.filter(!_.emitted)
            // wake when the oldest pending event can close (−1 ms:
            // event-time timeouts fire strictly AFTER the timestamp),
            // or when the whole buffer ages past baseline use
            val target =
              if (stillPending.nonEmpty)
                math.max(wmMs + 1L,
                  stillPending.iterator.map(_.tsUs).min / 1000L - 1L)
              else math.max(wmMs + 1L,
                kept.iterator.map(_.tsUs).max / 1000L +
                  windowSec * 1000L + 1L)
            state.setTimeoutTimestamp(target)
          }
          out.iterator
      }
  }

  case class CusumTick(group: String, ts: java.sql.Timestamp)
  case class CusumPoint(
      group: String, period: Long, n: Long,
      cusum_pos_milli: Long, cusum_neg_milli: Long,
      shift_up: Int, shift_down: Int)
  case class CusumState(
      hasClosed: Boolean, lastClosed: Long, cs: Long,
      runMin: Long, runMax: Long, maxSeen: Long,
      open: Map[Long, Long])

  /** Streaming twin of
    * [[graft.operators.Analytics.cusumFixedTarget]] — the continuous
    * level-shift monitor: per group, event counts per `periodSec`
    * bucket accumulate one-sided CUSUM sums against a fixed reference
    * rate, and a period's row emits exactly when the watermark closes
    * it (its count can no longer change) — final, append-mode, and
    * bit-equal to the batch twin over the arrived events because the
    * whole statistic is BIGINT arithmetic (no floats to drift).
    *
    * Gap periods between observed ones emit ZERO-count rows (a silent
    * hour IS a signal — the batch grid's semantics), but never past
    * the group's max observed period, matching the batch grid's
    * min..max span. Late events (in an already-closed period) drop —
    * the emitted row is final. State per group is O(open periods):
    * the running (cs, min, max) triple plus counts for not-yet-closed
    * buckets — bounded by watermark delay / periodSec, NOT by
    * history. A quiet group's pending periods close via event-time
    * timeout when other traffic advances the watermark; state
    * persists (it is a few longs) so the accumulation never resets.
    */
  def cusumStream(
      events: Dataset[CusumTick], periodSec: Long, targetMilli: Long,
      hMilli: Long, watermark: String = "2 hours"): Dataset[CusumPoint] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    require(periodSec > 0, "periodSec must be positive")
    val pUs = periodSec * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.group)
      .flatMapGroupsWithState[CusumState, CusumPoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (g, it, state) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          def us(t: java.sql.Timestamp): Long = {
            val i = t.toInstant
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }
          val prev = state.getOption.getOrElse(
            CusumState(hasClosed = false, 0L, 0L, 0L, 0L, Long.MinValue,
              Map.empty))
          // merge incoming ticks into open-period counts; ticks in an
          // already-closed period are late — their row is final, drop
          val incoming = it.map(e => us(e.ts) / pUs)
            .filter(p => !prev.hasClosed || p > prev.lastClosed)
            .toSeq
          val open = incoming.foldLeft(prev.open) { (m, p) =>
            m.updated(p, m.getOrElse(p, 0L) + 1L)
          }
          val maxSeen =
            if (incoming.isEmpty) prev.maxSeen
            else math.max(prev.maxSeen, incoming.max)
          // periods whose END the watermark has passed — but never
          // past the max observed period (the batch grid's span)
          val maxClosableByWm = wmUs / pUs - 1L
          val closable = math.min(maxClosableByWm, maxSeen)
          val start =
            if (prev.hasClosed) prev.lastClosed + 1L
            else if (open.nonEmpty) open.keys.min
            else Long.MaxValue
          var cs = prev.cs; var runMin = prev.runMin
          var runMax = prev.runMax
          val out = scala.collection.mutable.ArrayBuffer.empty[CusumPoint]
          var p = start
          while (p <= closable) {
            val c = open.getOrElse(p, 0L)
            cs += c * 1000L - targetMilli
            runMin = math.min(runMin, cs)
            runMax = math.max(runMax, cs)
            val sp = cs - math.min(0L, runMin)
            val sn = math.max(0L, runMax) - cs
            out += CusumPoint(g, p, c, sp, sn,
              if (sp > hMilli) 1 else 0, if (sn > hMilli) 1 else 0)
            p += 1L
          }
          val closedAny = prev.hasClosed || out.nonEmpty
          val lastClosed = if (out.nonEmpty) out.last.period
            else prev.lastClosed
          val kept = open.filter { case (q, _) =>
            !closedAny || q > lastClosed }
          state.update(CusumState(closedAny, lastClosed, cs, runMin,
            runMax, maxSeen, kept))
          // wake when the next pending period can close (event-time
          // timeouts fire strictly AFTER the timestamp)
          val wmMs = state.getCurrentWatermarkMs()
          if (maxSeen > (if (closedAny) lastClosed else Long.MinValue)) {
            val nextEndMs =
              (if (closedAny) lastClosed + 2L
               else kept.keys.min + 1L) * periodSec * 1000L
            state.setTimeoutTimestamp(math.max(wmMs + 1L, nextEndMs - 1L))
          }
          out.iterator
      }
  }

  case class PhTick(group: String, ts: java.sql.Timestamp, cents: Long)
  case class PhPoint(
      group: String, bucket: Long, n: Long, x_micro: Long,
      ph_micro: Long, alarmed: Int)
  case class PhState(
      hasClosed: Boolean, lastClosed: Long, t: Long, cum: Long,
      m: Long, minM: Long, open: Map[Long, (Long, Long)])

  /** Streaming twin of
    * [[graft.operators.Analytics.pageHinkleyTrace]] — the
    * self-calibrating level monitor: per group, value cents
    * accumulate per `periodSec` bucket, and when the watermark closes
    * a bucket its µ-mean enters the Page–Hinkley recursion (running
    * mean, slack discount, running-min gap). Emitted rows are final
    * and bit-equal to the batch trace over the arrived events: the
    * bucket mean and running mean use the SAME two IEEE double
    * floor-divisions the batch plan does, and everything else is
    * BIGINT.
    *
    * Unlike [[cusumStream]]'s count grid, a value series has no
    * zero-fill — an absent bucket has no mean — so only OBSERVED
    * buckets emit, which also keeps state O(open buckets): the
    * (t, Σx, m, min m) recursion seed plus (sum, count) for buckets
    * the watermark hasn't passed. Late ticks into a closed bucket
    * drop (the row is final). Quiet groups close pending buckets via
    * event-time timeout when other traffic advances the watermark.
    */
  def pageHinkleyStream(
      events: Dataset[PhTick], periodSec: Long, deltaMicro: Long,
      lambdaMicro: Long, watermark: String = "2 hours"): Dataset[PhPoint] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.OutputMode
    require(periodSec > 0, "periodSec must be positive")
    val pUs = periodSec * 1000000L
    events
      .withWatermark("ts", watermark)
      .groupByKey(_.group)
      .flatMapGroupsWithState[PhState, PhPoint](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (g, it, state) =>
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          def us(t: java.sql.Timestamp): Long = {
            val i = t.toInstant
            i.getEpochSecond * 1000000L + i.getNano / 1000L
          }
          val prev = state.getOption.getOrElse(
            PhState(hasClosed = false, 0L, 0L, 0L, 0L, Long.MaxValue,
              Map.empty))
          val incoming = it.map(e => (us(e.ts) / pUs, e.cents))
            .filter { case (b, _) => !prev.hasClosed || b > prev.lastClosed }
            .toSeq
          val open = incoming.foldLeft(prev.open) { case (m2, (b, c)) =>
            val (s0, n0) = m2.getOrElse(b, (0L, 0L))
            m2.updated(b, (s0 + c, n0 + 1L))
          }
          // a bucket closes when the watermark passes its END
          val closable = wmUs / pUs - 1L
          val toClose = open.keys.filter(_ <= closable).toSeq.sorted
          var t = prev.t; var cum = prev.cum
          var m = prev.m; var minM = prev.minM
          val out = toClose.map { b =>
            val (s, n) = open(b)
            // the batch plan's two mirrored floor-divisions, on the
            // same IEEE doubles
            val x = math.floor(s.toDouble * 1e6 / n.toDouble).toLong
            t += 1L; cum += x
            val mean = math.floor(cum.toDouble / t.toDouble).toLong
            m += x - mean - deltaMicro
            minM = math.min(minM, m)
            val ph = m - minM
            PhPoint(g, b, n, x, ph, if (ph >= lambdaMicro) 1 else 0)
          }
          val closedAny = prev.hasClosed || out.nonEmpty
          val lastClosed = if (out.nonEmpty) out.last.bucket
            else prev.lastClosed
          val kept = open.filter { case (q, _) =>
            !closedAny || q > lastClosed }
          state.update(PhState(closedAny, lastClosed, t, cum, m, minM,
            kept))
          if (kept.nonEmpty) {
            // wake when the earliest pending bucket can close
            // (event-time timeouts fire strictly AFTER the timestamp)
            val wmMs = state.getCurrentWatermarkMs()
            val nextEndMs = (kept.keys.min + 1L) * periodSec * 1000L
            state.setTimeoutTimestamp(math.max(wmMs + 1L, nextEndMs - 1L))
          }
          out.iterator
      }
  }

  case class UserEvent(user_id: Long, event_type: String, value: Double)
  case class UserTotals(
      user_id: Long, n_events: Long, sum_value: Double, n_purchases: Long)

  /** Per-user running totals via `mapGroupsWithState` — the custom-
    * state extension point for logic windows/aggregations can't
    * express. State lives for the key's lifetime (NoTimeout); a
    * deployment bounding state by idleness would switch to
    * ProcessingTimeTimeout + `state.setTimeoutDuration` and accept that
    * the engine then self-triggers batches to expire state.
    */
  def userRunningTotals(
      events: Dataset[UserEvent]): Dataset[UserTotals] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserTotals, UserTotals](
        GroupStateTimeout.NoTimeout) {
        (userId: Long, batch: Iterator[UserEvent],
         state: GroupState[UserTotals]) =>
          val prev = state.getOption
            .getOrElse(UserTotals(userId, 0L, 0.0, 0L))
          val next = batch.foldLeft(prev) { (acc, e) =>
            acc.copy(
              n_events = acc.n_events + 1,
              sum_value = acc.sum_value + e.value,
              n_purchases =
                acc.n_purchases + (if (e.event_type == "purchase") 1 else 0))
          }
          state.update(next)
          next
      }
  }
}
