package graft.streaming

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.operators.MultimodalOps
import graft.sources.Tables

/** STREAMING perceptual admission gate on the image column — the
  * multimodal twin of [[DedupGateStream]] and the Hamming-ball lift of
  * [[CurationStream]]'s exact-md5 claim store: micro-batches of asset
  * specs arrive, each asset is synthesized + decoded + dHashed
  * partition-locally (binaries never shuffle), the hash probes the
  * ACCRETING fingerprint store with the one-bit-multiprobe banded
  * Hamming join of `MultimodalOps.imageDedup`, and every novel asset
  * claims its fingerprint before the checkpoint commits — so a
  * re-encoded duplicate of anything the stream ever admitted is
  * rejected, across micro-batches AND across restarts.
  *
  * The banding is recall-complete at the verify radius by pigeonhole
  * (≤ 15 flipped bits across 8 bands leave a band within one bit of
  * exact, which the 9 probes cover), so the LSH is an implementation
  * detail of an EXACT Hamming-radius join — which is what the DuckDB
  * oracle replays, brute-force pairwise with `bit_count(xor(..))`.
  *
  * Intra-batch novelty is deliberately NOT adjudicated here: two novel
  * near-duplicates arriving in ONE batch both admit (the batch dedup
  * operator, `MultimodalOps.imageDedup`, owns that pass); the stream
  * gate enforces cross-batch novelty against the claim store, exactly
  * like the reference's admit-only-validated-records publisher gate
  * (amundsendatabuilder publisher/neo4j_csv_publisher.py:271-287).
  *
  * Claim-store shape — the shared [[ClaimStore]] discipline: claims land
  * pre-exploded to their 8 (band, value) probe rows keyed by
  * `pk = band * 256 + value` (2048 possible keys), one delta file per
  * batch, folded into a `pk=`-partitioned generation at the file budget
  * by an atomic CURRENT swap. A batch's probe collects its touched pk
  * set (bounded by 2048 whatever the batch size) and reads the store
  * PARTITION-PRUNED to those keys — per-batch probe cost is the touched
  * partitions plus at most the delta budget of small files, never a
  * whole-store scan or shuffle. `maxBandFreq` is the hot-key guard: real
  * corpora pile degenerate perceptual hashes (solid-color images,
  * silence) onto a handful of (band, value) keys, and one hot key yields
  * |probe|×|corpus| candidates — keys whose claim count exceeds the cap
  * are dropped whole (bounded recall loss on pathological keys for a
  * hard bound on candidate volume, the containment DF-cap discipline).
  *
  * At-least-once: verdicts land, then claims, then the checkpoint — a
  * batch replayed AFTER its claims landed sees its own winners as
  * already claimed and re-emits corrupted match counts, so the read
  * side resolves per doc with admitted = ANY delivery admitted and the
  * match stats from the row with the MINIMUM n_matches (the store only
  * grows, so the original delivery's match set is a subset of any
  * replay's — equal counts imply the identical set). [[resolveVerdicts]]
  * is that shared read contract. */
object MediaDedupStream {

  /** Claim rows pre-exploded to probe keys: pk = band * 256 + value;
    * `epoch` is the RETENTION stamp (caller-threaded monotone build
    * epoch + batch id): [[ClaimStore.retentionSweep]] between stream
    * runs ages claims out under the drop-fraction guardrail, so an asset
    * whose every claim aged out RE-ADMITS on its next arrival while
    * in-horizon claims keep rejecting. */
  private[streaming] val Claims: StructType = StructType.fromDDL(
    "pk INT NOT NULL, claim_id BIGINT NOT NULL, fhash BIGINT NOT NULL, epoch BIGINT NOT NULL")

  /** The gate's one deployed store — see [[Maintenance.claimActions]]. */
  def claimStores(outDir: String): Seq[ClaimStore] =
    Seq(ClaimStore(s"${outDir}_fps", Claims, Some("pk")))

  private def withPk(df: DataFrame): DataFrame =
    df.withColumn("pk", (col("band") * 256 + col("bv")).cast("int"))

  /** Per-batch gate: hash → multiprobe banded candidate join against
    * the pruned claim store → radius verify → verdict append → claim
    * append. `hashForKind` is the modality: the image dHash by default,
    * the audio loudness hash for [[audioDedupStreamQuery]] — the gate
    * itself is hash-agnostic (any 64-bit perceptual fingerprint whose
    * near-dup radius fits the 8-band multiprobe pigeonhole bound). */
  def run(
      incoming: DataFrame,
      outDir: String,
      checkpoint: String,
      radius: Int = 15,
      hashForKind: (Long, String) => Long = MultimodalOps.dhashForKind,
      maxBandFreq: Option[Long] = None,
      epochBase: Long = 0L): StreamingQuery = {
    import graft.functions.HammingDistance.hamming
    val spark = incoming.sparkSession
    val Seq(store) = claimStores(outDir)
    StreamGate.start(incoming, checkpoint) { (batch, batchId) =>
        val spark0 = spark
        import spark0.implicits._
        val hashed = batch
          .select(col("doc_id"), col("orig_id"), col("kind"))
          // spread the per-asset codec work across cores: an arriving
          // micro-batch is partitioned by its SOURCE file layout (the
          // fixture's one file = ONE partition), and without this the
          // whole encode+decode+hash pass ran in a single task per batch
          // (Probe: a 6.9 s one-task stage at sf0.1). Only the ~24-byte
          // id rows shuffle — binaries never do (the mediaAssets
          // discipline; guide §2.5 input skew: repartition after read)
          .repartition(spark.sparkContext.defaultParallelism)
          .as[(Long, Long, String)]
          .mapPartitions(_.map { case (d, o, k) =>
            (d, o, k, hashForKind(o, k))
          })
          .toDF("doc_id", "orig_id", "kind", "dhash")
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          val probes = withPk(hashed
            .select(col("doc_id"), col("dhash").as("dhash_t"),
              MultimodalOps.hashBands("dhash").as(Seq("band", "bv0")))
            .select(col("doc_id"), col("dhash_t"), col("band"),
              MultimodalOps.bandMultiprobe("bv0").as("bv")))
            .select("doc_id", "dhash_t", "pk")
          // the touched probe-key set is bounded by the key space (2048)
          // whatever the batch size — a tiny driver collect that lets the
          // store read partition-prune to the keys this batch can hit.
          // This collect IS the codec pass's cache fill (it consumes
          // every hashed partition) — a separate count() paid one whole
          // extra job per batch; probe + claim sides reuse the cache
          val touched = probes.select("pk").distinct().as[Int].collect().toSeq
          // hot-key guard: per-pk claim counts are exact on the pruned
          // read (pruning keeps every row of a touched key)
          val corpus = MultimodalOps.capHotKeys(
            store.readPruned(spark, touched),
            Seq("pk"), maxBandFreq)
          val matches = probes
            .join(corpus.select(col("pk"), col("claim_id"),
              col("fhash").as("dhash_c")), Seq("pk"))
            .select("doc_id", "claim_id", "dhash_t", "dhash_c")
            .dropDuplicates("doc_id", "claim_id") // many probes agree per pair
            .filter(hamming(col("dhash_t"), col("dhash_c")) <= radius)
            .groupBy("doc_id")
            .agg(count(lit(1)).as("n_matches"), min(col("claim_id")).as("min_match"))
          val verdict = hashed
            .join(matches, Seq("doc_id"), "left")
            .select(col("doc_id"), col("orig_id"), col("kind"),
              col("n_matches").isNull.as("admitted"),
              coalesce(col("n_matches"), lit(0L)).as("n_matches"),
              coalesce(col("min_match"), lit(-1L)).as("min_match"),
              col("dhash"))
            .persist(StorageLevel.MEMORY_AND_DISK)
          verdict.count()
          try {
            // novel assets claim their fingerprint BEFORE the checkpoint
            // commits — pre-exploded to the probe-key layout; the shared
            // ClaimStore folds the file set at the delta budget
            // epoch stamp: a RESTARTED stream's batch ids begin at 0
            // again, so retention epochs are epochBase + batchId with
            // the base threaded by the caller as a monotone build
            // number — raw batch ids would alias across runs and let a
            // sweep age out fresh claims
            StreamGate.commit(spark,
              consumers = Seq(() => verdict.drop("dhash")
                .write.mode(SaveMode.Append).parquet(outDir)),
              claims = Seq(store -> withPk(verdict.filter(col("admitted"))
                .select(col("doc_id").as("claim_id"), col("dhash").as("fhash"))
                .select(col("claim_id"), col("fhash"),
                  MultimodalOps.hashBands("fhash").as(Seq("band", "bv"))))
                .withColumn("epoch", lit(epochBase + batchId))
                .select("pk", "claim_id", "fhash", "epoch")))
          } finally verdict.unpersist()
        } finally hashed.unpersist()
    }
  }

  /** Oracle-gated query: PNG (even-id) assets stream through the gate
    * as two micro-batches — the 4k-th ids arrive first and seed the
    * claim store, then the (4k+2)-th ids plus the re-encoded twins of
    * the first batch's high-contrast assets. Batch 0 admits vacuously
    * (empty store); every batch-1 element is judged against exactly the
    * batch-0 fingerprints, so the oracle replays the verdicts with the
    * relational dHash arithmetic and a brute-force pairwise
    * `bit_count(xor(..)) <= 15` join (the twins' JPEG transcode is
    * dHash-bit-identical on the DCT-aligned checkerboards —
    * spec-asserted over the full asset period). */
  def imageDedupStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val evens = Tables(spark, dir, "documents")
      .select(col("doc_id")).filter(col("doc_id") % 2 === 0)
    val fx = StreamGate.fixture("graft-mediadedup",
      origs(evens.filter(col("doc_id") % 4 === 0)),
      origs(evens.filter(col("doc_id") % 4 === 2))
        .union(evens
          .filter(col("doc_id") % 4 === 0)
          .filter(col("doc_id") % 6 === 0 &&
            abs(lit(2) * (lit(28) + (col("doc_id") * 37) % 200) - 255) >= 64)
          .select((col("doc_id") + 3000000L).as("doc_id"),
            col("doc_id").as("orig_id"), lit("reencode").as("kind"))))
    run(StreamGate.sourceInferred(fx.in), fx.path("out"), fx.path("ckpt")).awaitTermination()
    resolveVerdicts(spark, fx.path("out"))
  }

  /** Asset rows that are their own originals. */
  private def origs(ids: DataFrame): DataFrame =
    ids.select(col("doc_id"), col("doc_id").as("orig_id"), lit("orig").as("kind"))

  /** Gain twins of `ids`, renumbered past the corpus by `offset`. */
  private def gainTwins(ids: DataFrame, offset: Long): DataFrame =
    ids.select((col("doc_id") + offset).as("doc_id"),
      col("doc_id").as("orig_id"), lit("gain").as("kind"))

  /** The shared at-least-once READ CONTRACT for perceptual-gate verdict
    * stores: admitted = ANY delivery admitted (a doc's own claim in the
    * store proves its admission — the replay of an admitted doc
    * self-matches and re-emits admitted = false), and the match stats
    * come from the delivery with the MINIMUM n_matches: the claim store
    * only ever grows, so the original delivery's match set is a subset
    * of any replay's — the smaller count IS the pre-claim verdict, and
    * equal counts imply the identical set (hence identical min_match).
    * Taking max(n_matches) here would surface a replay's self-match-
    * inflated count instead of the original verdict. `key` is the
    * per-item column (`vec_id` for [[EmbedDedupStream]]'s verdicts). */
  def resolveVerdicts(spark: SparkSession, out: String,
      key: String = "doc_id"): DataFrame =
    StreamGate.readVerdicts(spark, out,
      Seq(key, "orig_id", "kind", "admitted", "n_matches", "min_match"),
      anyTrue = Seq("admitted"),
      preClaim = Seq("n_matches", "min_match"),
      carried = Seq("orig_id", "kind"))

  /** The AUDIO modality through the same gate: even-id assets stream as
    * batch 0 and seed the claim store; batch 1 brings the odd-id assets
    * plus 2×-gain twins of the (6k+4)-th (even, batch-0) assets. The
    * loudness hash is oracle-replayable for EVERY asset (WAV/PCM16 is
    * lossless) and the gain twin's hash is bit-identical structurally,
    * so the oracle replays all verdicts brute-force pairwise at the
    * audio verify radius 7 — the [[imageDedupStreamQuery]] discipline
    * with zero PNG/JPEG asymmetry. */
  def audioDedupStreamQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val fx = StreamGate.fixture("graft-audiodedup",
      origs(docs.filter(col("doc_id") % 2 === 0)),
      origs(docs.filter(col("doc_id") % 2 === 1))
        .union(gainTwins(docs.filter(col("doc_id") % 6 === 4), 5000000L)))
    run(StreamGate.sourceInferred(fx.in), fx.path("out"), fx.path("ckpt"), radius = 7,
      hashForKind = MultimodalOps.ahashForKind).awaitTermination()
    resolveVerdicts(spark, fx.path("out"))
  }

  /** Oracle-gated RETENTION LIFECYCLE through the gate itself — the full
    * production story the claim epochs enable: even-id assets stream as
    * batch 0 (epoch 0) and odd-id assets as batch 1 (epoch 1, judged
    * against the batch-0 claims as usual); between stream runs the sweep
    * ages out every epoch-0 claim under the guardrail; then a THIRD
    * batch arrives under a monotone epoch base — 2×-gain twins of
    * (6k+4)-th (even, aged-out) parents and of (6k+3)-th (odd,
    * in-horizon) parents. A twin of an aged-out parent RE-ADMITS unless
    * some surviving odd claim happens to sit within the verify radius;
    * a twin of an in-horizon ADMITTED parent keeps rejecting. The
    * oracle replays all three batches relationally: batch-1 verdicts
    * pairwise against the evens, the post-sweep store as exactly the
    * batch-1 ADMITTED odd hashes, and the twin verdicts pairwise
    * against that surviving set — a sweep that drops an in-horizon
    * claim, keeps an aged one, or a restarted stream whose epochs alias
    * flips rows red. */
  def audioClaimRetentionQuery(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables(spark, dir, "documents").select(col("doc_id"))
    val fx = StreamGate.fixture("graft-audioretention",
      origs(docs.filter(col("doc_id") % 2 === 0)),
      origs(docs.filter(col("doc_id") % 2 === 1)))
    val out = fx.path("out")
    run(StreamGate.sourceInferred(fx.in), out, fx.path("ckpt"), radius = 7,
      hashForKind = MultimodalOps.ahashForKind).awaitTermination()
    // age out the batch-0 (epoch 0) claims; batch-1 claims stay. The
    // guardrail sits at 0.99: this sweep EXPECTS to drop a whole epoch
    // cohort, and at larger corpora batch 1 admits few novel claims
    // (most odds match an even within the radius), so the aged fraction
    // legitimately approaches 1 — the abort path is spec-covered
    claimStores(out).foreach(_.retentionSweep(spark, minEpoch = 1L, maxDropFrac = 0.99))
    StreamGate.writeBatches(fx.path("in2"),
      gainTwins(docs.filter(col("doc_id") % 6 === 4), 5000000L)
        .union(gainTwins(docs.filter(col("doc_id") % 6 === 3), 7000000L)))
    run(StreamGate.sourceInferred(fx.path("in2")), out, fx.path("ckpt2"), radius = 7,
      hashForKind = MultimodalOps.ahashForKind,
      epochBase = 2L).awaitTermination()
    resolveVerdicts(spark, out)
  }
}
