package graft.data

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** A multimodal record: opaque media bytes + typed metadata. */
case class MediaDoc(doc_id: Long, media: Array[Byte], mime: String)

/** Decoded/extracted media features (stub decode — see [[Multimodal.decodeStub]]). */
case class MediaFeatures(
    doc_id: Long,
    byte_len: Int,
    header_hex: String,
    n_frames: Int,
    frames_hex: String,
    fingerprint: String
)

/** Multimodal-column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata; decode/feature-extract/frame-sample over partitions.
  *
  * The actual codec layer is STUBBED (this container has no image/audio
  * libraries): [[decodeStub]] produces deterministic fake features from the
  * raw bytes. Everything Spark-side — schema, partition-iterator batch shape,
  * binary column handling, metadata extraction — is real and tested; swap the
  * body of `decodeOne` for a real decoder (JNI/FFmpeg/ImageIO) without
  * touching the plan.
  *
  * Scale: metadata extraction is pure column expressions fused with the scan;
  * decode runs `mapPartitions` so each task amortizes codec init across its
  * partition (the Scala analogue of `mapInPandas` batching). Binary columns
  * stay off the shuffle: partition on ids, never on media bytes.
  */
object Multimodal {

  /** Column-expression metadata over a binary media column: length, header
    * bytes, strided frame samples (4 frames of 4 bytes at a 32-byte stride),
    * content fingerprint. Zero shuffle.
    */
  def metadata(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val b = col(binCol)
    val frames = (0 until 4).map(i => lower(hex(substring(b, 1 + 32 * i, 4))))
    df.select(
      col(idCol),
      length(b).as("byte_len"),
      lower(hex(substring(b, 1, 16))).as("header_hex"),
      concat_ws("-", frames: _*).as("frames_hex"),
      md5(b).as("fingerprint")
    )
  }

  /** View a text/binary column as a MediaDoc dataset (fixture path: real
    * deployments read binary columns from parquet directly).
    */
  def asMedia(df: DataFrame, idCol: String, binCol: String, mime: String): Dataset[MediaDoc] = {
    import df.sparkSession.implicits._
    df.select(
      col(idCol).cast("long").as("doc_id"),
      col(binCol).cast("binary").as("media"),
      lit(mime).as("mime")
    ).as[MediaDoc]
  }

  /** Deterministic stand-in for a media decoder. Real impl would decode
    * image/audio frames here.
    */
  private[data] def decodeOne(d: MediaDoc, frameStride: Int): MediaFeatures = {
    val bytes = d.media
    def hexAt(off: Int, len: Int): String =
      bytes.slice(off, math.min(off + len, bytes.length)).map("%02x".format(_)).mkString
    val nFrames = math.max(0, (bytes.length - 1) / frameStride + 1)
    val frames = (0 until math.min(nFrames, 4)).map(i => hexAt(i * frameStride, 4))
    MediaFeatures(
      doc_id = d.doc_id,
      byte_len = bytes.length,
      header_hex = hexAt(0, 16),
      n_frames = nFrames,
      frames_hex = frames.mkString("-"),
      fingerprint = java.security.MessageDigest
        .getInstance("MD5")
        .digest(bytes)
        .map("%02x".format(_))
        .mkString
    )
  }

  /** Partition-batched decode: codec init once per partition, rows streamed
    * through (the `mapInPandas` batch shape, Scala-typed).
    */
  def decodeStub(ds: Dataset[MediaDoc], frameStride: Int = 32): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      // real decoder would be initialized HERE, once per partition
      it.map(decodeOne(_, frameStride))
    }
  }

  /** 64-bit dHash-style perceptual fingerprint over a binary media column —
    * image-level NEAR-dup for the multimodal pipeline (the md5
    * `fingerprint` in [[metadata]] only catches byte-exact copies; a
    * re-encoded or slightly-edited image needs a PERCEPTUAL hash).
    *
    * Standard dHash (public domain, widely described — e.g. the
    * Krawetz "Kind of Like That" formulation): decode the image to a 9×8
    * luma grid, emit one bit per horizontally-adjacent pair, bit = left <
    * right — gradient signs survive re-encode/resize/brightness shifts
    * that break exact hashes. The DECODE step is this container's stub
    * (no image libs): the "luma grid" samples the raw bytes at 72 evenly
    * strided offsets (`grid g ∈ 0..71 → byte ⌊g·len/72⌋`) — swap the
    * sampling for a real decoder's grid without touching the bit/banding
    * machinery. Pure deterministic column ops end to end, so a SQL oracle
    * replays the hash bit-for-bit: Spark compares ONE-BYTE binary slices
    * (BinaryType ordering = unsigned byte order — a full-payload
    * `hex(bin)` here instead would be duplicated into all 128 sample
    * references by expression construction and measured 4.1 s for 5k
    * docs at sf0.1; the 1-byte slice is O(1) per sample), while the
    * DuckDB oracle compares the same bytes as two-char lowercase-hex
    * pairs lexicographically — hex digits are ASCII-ordered, so both
    * orderings are the SAME unsigned byte order and the fingerprints are
    * bit-identical. No UDF, stays inside whole-stage codegen.
    * Empty/short payloads degrade deterministically (clamped stride;
    * empty binary → fingerprint 0).
    */
  def perceptualHash(bin: Column): Column = {
    val len = length(bin).cast("long")
    // byte ⌊g·len/72⌋ as a one-byte binary slice; the products stay well
    // under 2^53, so the double division is exact
    def sample(g: Int): Column =
      bin.substr((floor(lit(g.toLong) * len / lit(72)) + 1).cast("int"), lit(1))
    (for { r <- 0 until 8; c <- 0 until 8 } yield {
      val b = r * 8 + c
      when(sample(r * 9 + c) < sample(r * 9 + c + 1), lit(1L << b)).otherwise(lit(0L))
    }).reduce(_ bitwiseOR _)
  }

  /** A multi-index-hashing band geometry: band width in bits, per-band
    * Hamming-ball probe radius, and the widest pairing threshold the
    * geometry guarantees EXACT (the pigeonhole bound
    * `nBands·(probeRadius+1) − 1`).
    */
  final case class PhashGeometry(bandBits: Int, probeRadius: Int, maxHamming: Int)

  /** Scale-derived MIH band geometry (VERDICT r19 #1) — the coarse-
    * quantizer auto-k precedent ([[Similarity.autoK]]'s rows-per-bucket
    * rule) applied to the pHash band index: geometry is a function of the
    * stored-side corpus size, not a hand-tuned knob a first 500k-image run
    * trips over.
    *
    * The banded join's cost AND its flood guard are governed by the
    * (band, value) bucket population: expectation `n / 2^bandBits` under a
    * well-spread fingerprint distribution, and the guard refuses above
    * `maxBucketRows` actual rows. The ladder walks 8 → 16 → 32-bit bands,
    * picking the COARSEST width whose expected population, padded by
    * `skewHeadroom` for low-entropy corpora, stays under the cap — coarse
    * bands buy the widest exact Hamming reach (8-bit × radius 1 reaches
    * hamming 15; 16-bit reaches 7; 32-bit reaches 3), so a corpus gets the
    * loosest threshold its scale can serve without quadratic blowup, and
    * escalates to more selective bands exactly when population forces it.
    * `skewHeadroom` = 8 absorbs the measured fixture skew (organic sf10:
    * max bucket 13,224 vs 1,953 expectation ≈ 6.8× — SCALE.md r19), which
    * puts the 8→16 escalation at n ≈ 320k for the default cap: sf-fixture
    * corpora (≤ 50k docs) keep the historical 8-bit/hamming-15 geometry
    * (and their oracle SQL), the organic sf10 corpus (500k) derives the
    * 16-bit/radius-1/hamming-7 configuration measured clean across the
    * decade. Radius is always 1: for a given band width it doubles the
    * exact reach at `1+bandBits`× probe rows, the documented MIH trade —
    * callers wanting a radius-0 plan hand-set the triple as before.
    * Beyond 32-bit capacity (n > cap/headroom · 2^32 ≈ 5×10^12 rows) the
    * ladder stays at 32 and the flood guard remains the loud rail.
    */
  def phashGeometry(
      nRows: Long,
      maxBucketRows: Int = 10000,
      skewHeadroom: Int = 8
  ): PhashGeometry = {
    require(nRows >= 0, s"phashGeometry: nRows=$nRows")
    require(maxBucketRows > 0 && skewHeadroom >= 1,
      s"phashGeometry: maxBucketRows=$maxBucketRows, skewHeadroom=$skewHeadroom")
    val target = math.max(1L, maxBucketRows.toLong / skewHeadroom)
    val bandBits = Seq(8, 16, 32).find(b => nRows / (1L << b) <= target).getOrElse(32)
    val radius = 1
    PhashGeometry(bandBits, radius, (64 / bandBits) * (radius + 1) - 1)
  }

  /** Hamming-banded perceptual near-dup pairs: `(a_id, b_id, hamming)` for
    * every pair within `maxHamming` bits — multi-index hashing (Norouzi/
    * Punjani/Fleet, "Fast Exact Search in Hamming Space with Multi-Index
    * Hashing", CVPR'12 — public literature): split the 64-bit fingerprint
    * into `64/bandBits` bands; the probe side emits each band's value
    * plus its Hamming ball of radius `probeRadius`, the stored side its
    * exact values, and a pair is a candidate when some band matches. By
    * pigeonhole a pair with `hamming ≤ nBands·(probeRadius+1) − 1` has a
    * band with per-band hamming ≤ probeRadius, so the join is EXACT for
    * any `maxHamming` within that bound (guarded require) — never just
    * probabilistic. Candidate volume per band ≈ probeValues/2^bandBits ·
    * n²/2, so radius-probing buys the same exactness with a WIDER (= more
    * selective) band: ball-1 on 8-bit bands reaches hamming 15 at ~3.5×
    * fewer candidates than exact-match 4-bit bands; at billion-image
    * scale run bandBits=16, probeRadius=1 (hamming ≤ 7 exact, 65536-value
    * buckets). Candidates shuffle on the (band, value) key only — never
    * all-pairs; a pair matching several bands/probes is emitted once
    * (distinct at pair grain, after the hamming filter). The join is
    * [[perceptualPairsIndexed]]'s, run over this corpus's
    * [[phashBandIndex]] frame checkpointed: the inline and persisted
    * faces share one MIH probe and one flood guard.
    *
    * ==Duplicate-flood stance==
    * A degenerate image corpus — solid-color frames, watermark/template
    * images, repeated thumbnails, all common at crawl scale — collapses
    * to one fingerprint, so every band lands its whole population in ONE
    * (band, bucket) and the banded self-join emits n²/2 candidate
    * pairs: quadratic OUTPUT, not just work, exactly the
    * [[Dedup.minhashPairs]] failure shape. Same stance as there: one
    * cheap stored-side (band, bucket) count pass runs BEFORE the
    * quadratic join, and any bucket holding more than `maxBucketRows`
    * fingerprints fails the job LOUDLY with the top offender sizes —
    * "clear error naming the flood" instead of "executor OOM mid-join".
    * Stored buckets ≤ cap bound the join output by probeRows·cap, linear
    * in n. NOTE the guard makes CONSTRUCTION eager (it runs a count job
    * and can throw before any action) — the same documented contract as
    * the MinHash pair face.
    */
  def perceptualPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 7,
      bandBits: Int = 8,
      probeRadius: Int = 0,
      maxBucketRows: Int = 10000
  ): DataFrame = {
    // the band frame feeds THREE consumers (flood guard, probe side, stored
    // side): pay the 64-sample fingerprint scan once. The checkpointed
    // payload is (sid, band, bucket, fp), never media bytes, so
    // executor-local disk stays corpus-metadata-sized
    val index = phashBandIndex(df, idCol, binCol, bandBits).localCheckpoint()
    CorpusOps.releaseOnFailure(index) {
      perceptualPairsIndexed(index, maxHamming, bandBits, probeRadius, maxBucketRows)
    }
  }

  /** The MIH BAND frame of a media corpus: one `(sid, band, bucket, fp)`
    * row per (image, band), `bucket` the band's value as a decimal string
    * — the pHash half of the band core (its MinHash twin is
    * [[Dedup.bandedBuckets]]): [[perceptualPairs]], the first-seen gates
    * and the persisted index all band through it. A pipeline can
    * materialize it ONCE per corpus stamp (bucketed by `bucket` via
    * [[graft.connectors.Bucketing.ensureBucketed]]), append each ingested
    * delta's bands ([[graft.connectors.Bucketing.appendBucketed]]), and
    * serve every subsequent pairs/clusters/gate query from the skinny
    * table instead of re-decoding + re-fingerprinting the BINARY column
    * per call — at billion-image scale that per-call media re-scan IS the
    * query cost (the exact shape [[SnapshotOps.nearDupBandIndex]] removed
    * for text in r17). Carrying `fp` in the index makes the Hamming
    * verify free at query time: no candidate ever touches media bytes.
    *
    * Append ≡ rebuild holds because a row's (band, bucket, fp) is a pure
    * function of its own media bytes (spec-pinned in DataOpsSpec).
    * `bandBits` is part of the INDEX IDENTITY — put [[phashStamp]] in the
    * ensureBucketed `sourceStamp` so a parameter change rebuilds, and pass
    * the persisted stamp to [[perceptualPairsIndexed]] to validate per
    * query (the [[SnapshotOps.bandStamp]] discipline).
    */
  def phashBandIndex(
      df: DataFrame,
      idCol: String,
      binCol: String,
      bandBits: Int = 8
  ): DataFrame = {
    require(64 % bandBits == 0 && bandBits <= 32,
      s"phashBandIndex: bandBits=$bandBits must divide 64 and be <= 32 (a 64-bit band is the whole fingerprint)")
    val nBands = 64 / bandBits
    val mask = (1L << bandBits) - 1
    // ComputeOnce barrier: the band array references fp nBands times and
    // CollapseProject would otherwise inline the 64-sample fingerprint
    // subtree into every reference
    df.select(
      col(idCol).cast("long").as("sid"),
      graft.functions.ComputeOnce(perceptualHash(col(binCol))).as("fp"))
      .select(col("sid"), col("fp"), explode(array((0 until nBands).map { b =>
        struct(
          lit(b).as("band"),
          shiftright(col("fp"), b * bandBits).bitwiseAND(lit(mask)).cast("string").as("bucket"))
      }: _*)).as("_b"))
      .select(col("sid"), col("_b.band").as("band"), col("_b.bucket").as("bucket"), col("fp"))
  }

  /** Canonical encoding of the band width for a persisted pHash index's
    * build stamp — the [[SnapshotOps.bandStamp]] discipline for the MIH
    * index family.
    */
  def phashStamp(bandBits: Int): String = s"phash(bandBits=$bandBits)"

  /** [[perceptualPairs]] served from a [[phashBandIndex]] frame — the one
    * MIH probe: the inline face runs it over a checkpointed band frame,
    * the production shape over a PERSISTED index. BOTH join sides derive
    * from the skinny index (the
    * probe side re-derives each row's band value from the stored `fp` and
    * expands its radius-`probeRadius` Hamming ball; the stored side is the
    * index as-is), so the pairs/clusters family never re-reads the binary
    * column at all. Same exactness guarantee, same flood stance, same
    * output (SAME oracle gates both faces — the index must never change
    * the answer; spec-pinned equivalence in DataOpsSpec).
    *
    * `indexStamp` (the persisted table's build stamp,
    * [[graft.connectors.Bucketing.readStamp]]) validates `bandBits`
    * against the layout without scanning it; probing a differently-banded
    * index would silently emit garbage candidates — fail loudly instead.
    *
    * The flood guard ([[Dedup.assertNoBucketFloodAll]]) aggregates the
    * index's (band, bucket) counts — one pass over skinny rows (never
    * media bytes), the price of the loud-error contract on a
    * quadratic-output join. The guard makes construction EAGER (it runs
    * a count job and can throw before any action) — the documented
    * [[perceptualPairs]] contract.
    */
  def perceptualPairsIndexed(
      index: DataFrame,
      maxHamming: Int = 7,
      bandBits: Int = 8,
      probeRadius: Int = 0,
      maxBucketRows: Int = 10000,
      indexStamp: Option[String] = None
  ): DataFrame = {
    require(64 % bandBits == 0 && bandBits <= 32,
      s"perceptualPairsIndexed: bandBits=$bandBits must divide 64 and be <= 32 (a 64-bit band is the whole fingerprint)")
    require(maxHamming >= 0, s"perceptualPairsIndexed: maxHamming=$maxHamming")
    require(maxBucketRows > 0, s"perceptualPairsIndexed: maxBucketRows must be positive")
    require(probeRadius == 0 || probeRadius == 1,
      s"perceptualPairsIndexed: probeRadius=$probeRadius not in {0, 1}")
    Seq("sid", "band", "bucket", "fp").foreach(c =>
      require(index.columns.contains(c),
        s"perceptualPairsIndexed: index lacks column $c — build it with phashBandIndex"))
    val nBands = 64 / bandBits
    require(maxHamming < nBands * (probeRadius + 1),
      s"perceptualPairsIndexed: maxHamming=$maxHamming beyond the pigeonhole guarantee " +
        s"(${nBands * (probeRadius + 1) - 1} at $nBands bands, radius $probeRadius) — " +
        s"the banded join would MISS qualifying pairs; narrow bandBits, raise " +
        s"probeRadius, or lower maxHamming")
    indexStamp.foreach(s =>
      require(s.contains(phashStamp(bandBits)),
        s"perceptualPairsIndexed: the persisted index's build stamp ($s) does not carry " +
          s"${phashStamp(bandBits)} — the index was built under a DIFFERENT band width; " +
          "rebuild it with phashBandIndex under this bandBits and put phashStamp(bandBits) " +
          "in the ensureBucketed sourceStamp"))
    val mask = (1L << bandBits) - 1
    val stored = index.select(col("sid"), col("band"), col("bucket"), col("fp"))
    // the flood guard: stored-side (band, bucket) counts before the
    // quadratic join. Stored counts (not probe-expanded) are the right
    // grain — join output per bucket = matching probe rows × stored rows,
    // so capping stored rows bounds the output linearly in n
    Dedup.assertNoBucketFloodAll(Seq("" -> stored), Seq("band", "bucket"), maxBucketRows,
      "perceptualPairsIndexed", "perceptual-dup",
      "The within-bucket candidate join is duplicity²-quadratic and the pairs it would emit " +
        "are quadratic OUTPUT, not just work — a degenerate corpus (solid-color frames, " +
        "watermark templates, repeated thumbnails) collapses to one fingerprint per template. " +
        "If the flood is BYTE-IDENTICAL media, collapse exact duplicates (md5 fingerprint from " +
        "Multimodal.metadata) to min-id representatives before indexing and expand rep pairs to " +
        "member pairs lazily; if it is DISTINCT media sharing a fingerprint, the quadratic is " +
        "inherent to the pair grain — pre-shard the corpus or raise maxBucketRows only if " +
        "that output volume is truly intended.")
    // probe side: each index row (one per band) re-derives its numeric band
    // value from fp — shiftright by the band COLUMN, so one expression
    // serves all bands — and explodes the exact value plus its radius-1
    // UPWARD single-bit flips (set a 0-bit only): a band at hamming 1 has
    // exactly one endpoint holding the 0-bit, so its upward flip lands on
    // the other's stored value and the pair is found in ONE orientation —
    // the downward flips only rediscovered the same pair from the other
    // side (guide §2.3: half the probe rows and candidate volume for the
    // same exact pair set; output is canonicalized to (min id, max id)).
    // PRECONDITION (do not reuse asymmetrically): upward-only is sound ONLY
    // because this is a symmetric SELF-join — every row probes AND is
    // stored, so each hamming-1 band's 0-bit endpoint is guaranteed to
    // probe. A delta probing an index that does not probe back would miss
    // every pair whose probing side holds the 1-bit.
    // SQL form: the Scala DSL's shiftright only takes a literal bit count,
    // and here the shift is the band COLUMN (one expression serves all bands)
    val bv = expr(s"shiftright(fp, band * $bandBits)").bitwiseAND(lit(mask))
    val probeVals = bv +: (if (probeRadius == 0) Seq.empty[Column]
                           else (0 until bandBits).map(i =>
                             when(bv.bitwiseAND(lit(1L << i)) === 0,
                               bv.bitwiseXOR(lit(1L << i)))))
    val probed = stored
      .select(col("sid"), col("fp"), col("band"),
        explode(array(probeVals.map(_.cast("string")): _*)).as("bucket"))
      // suppressed (null) probes die before the shuffle — an equi-join
      // would drop them anyway
      .filter(col("bucket").isNotNull)
      .repartition(
        index.sparkSession.sessionState.conf.numShufflePartitions,
        col("band"), col("bucket"))
    probed.select(col("sid").as("a_id"), col("fp").as("_fpa"), col("band"), col("bucket"))
      .join(
        stored.select(col("sid").as("b_id"), col("fp").as("_fpb"), col("band"), col("bucket")),
        Seq("band", "bucket"))
      .filter(col("a_id") =!= col("b_id"))
      .select(
        least(col("a_id"), col("b_id")).as("a_id"),
        greatest(col("a_id"), col("b_id")).as("b_id"),
        bit_count(col("_fpa").bitwiseXOR(col("_fpb"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Accept/reject verdict for a media feed — the [[CorpusIngest.verdict]]
    * contract for binary columns: `(original columns, byte_len,
    * reject_reason)` with reason NULL for accepted media, else the FIRST
    * failing gate (`too_small` before `too_large` before `mime`), so a
    * DLQ writer splits on one column. A NULL payload fails `too_small`, a
    * NULL mime fails `mime` (the bare `isin` would return NULL and sail
    * past the gate — the [[CorpusIngest.verdict]] NULL-text lesson).
    * Pure column expressions: batch and streaming frames alike, zero
    * state, zero shuffle.
    */
  def mediaVerdict(
      docs: DataFrame,
      binCol: String,
      mimeCol: String,
      allowedMimes: Seq[String],
      minBytes: Int,
      maxBytes: Long
  ): DataFrame =
    docs
      .withColumn("byte_len", length(col(binCol)).cast("long"))
      .withColumn(
        "reject_reason",
        when(col(binCol).isNull || col("byte_len") < minBytes, lit("too_small"))
          .when(col("byte_len") > maxBytes, lit("too_large"))
          .when(col(mimeCol).isNull || !col(mimeCol).isin(allowedMimes: _*), lit("mime")))

  /** The composed streaming MEDIA-ingest pipeline — the image analogue of
    * the [[CorpusIngest.ingest]] capstone: (accepted stream, perceptual
    * near-dup hit stream). Accepted = [[mediaVerdict]]-clean rows; only
    * they reach the keyed perceptual band state, so state pressure tracks
    * accepted distinct content, not feed volume (the ingest-soak
    * contract), and a rejected payload can never be the first-seen
    * original a later arrival dups against.
    */
  def ingest(
      docs: DataFrame,
      idCol: String,
      binCol: String,
      mimeCol: String,
      allowedMimes: Seq[String],
      minBytes: Int,
      maxBytes: Long,
      bandBits: Int = 8,
      ttlMs: Long = 0L
  ): (DataFrame, Dataset[graft.model.NearDupHit]) = {
    val v = mediaVerdict(docs, binCol, mimeCol, allowedMimes, minBytes, maxBytes)
    val accepted = v.filter(col("reject_reason").isNull).drop("reject_reason")
    val hits = streamingPerceptualDupCandidates(
      accepted.select(col(idCol), col(binCol)), idCol, binCol, bandBits, ttlMs)
    (accepted, hits)
  }

  /** Streaming perceptual near-dup gate — the IMAGE analogue of
    * [[Dedup.streamingNearDupCandidates]]: the [[phashBandIndex]] bands
    * run through the same keyed first-seen band state
    * ([[Dedup.firstSeenStream]]). A new image landing in
    * a bucket an earlier image claimed is emitted as a
    * [[graft.model.NearDupHit]] (dupOf = the first-seen image) — by
    * pigeonhole an arrival within hamming < nBands of ANY prior image is
    * GUARANTEED to hit at least one of its buckets; bucket-chance
    * collisions are the banded-LSH false-candidate trade, verified
    * downstream exactly as in the text gate. Bucket strings carry a `p`
    * namespace prefix so a pipeline running both gates over one state
    * store can never cross-collide with MinHash band buckets.
    * State is bounded by distinct accepted images × nBands, TTL-evicted
    * like the text gate ([[graft.data.CorpusIngest]] soak contract).
    */
  def streamingPerceptualDupCandidates(
      docs: DataFrame,
      idCol: String,
      binCol: String,
      bandBits: Int = 8,
      ttlMs: Long = 0L
  ): Dataset[graft.model.NearDupHit] =
    Dedup.firstSeenStream(docs, idCol, "streamingPerceptualDupCandidates",
      phashBandIndex(docs, idCol, binCol, bandBits), "p", ttlMs)

  /** The deterministic BATCH replay of [[streamingPerceptualDupCandidates]]
    * ([[Dedup.firstSeenReplay]] over the same `p`-keyed bands). Composed
    * under [[ingest]]'s accept filter it gives the media-ingest hit stream
    * a three-check oracle row.
    */
  def perceptualGateBatch(
      docs: DataFrame,
      idCol: String,
      binCol: String,
      bandBits: Int = 8
  ): DataFrame =
    Dedup.firstSeenReplay(phashBandIndex(docs, idCol, binCol, bandBits), "p")
}
