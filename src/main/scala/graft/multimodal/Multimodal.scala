package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (north star): image/audio/video as opaque
  * BINARY payloads + typed metadata, with decode/feature-extraction as
  * partition-local transforms.
  *
  * The header decode (`graft_image_dims`) and byte-level feature
  * extraction (`graft_image_features`) parse REAL bytes as codegen
  * expressions; only pixel-level codec work (which needs libraries this
  * environment lacks) is out of scope, and nothing here stubs around it —
  * resize/frame-sample operate on the payload bytes directly.
  *
  * Scale notes: payloads stay off the driver; every transform is a
  * column expression inside whole-stage codegen, so the per-row cost is
  * one pass over the payload with zero boxing.
  */
object Multimodal {


  /** Wrap the documents table as a binary media corpus (text modality). */
  def fromDocuments(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("media_id"), lit("text").as("modality"),
      encode(col("text"), "UTF-8").as("payload"))

  /** Perturbed-copy fixture base + cadence: every `every`-th doc gains a
    * copy with its FIRST CHARACTER replaced by 'q' under
    * PerturbKeyBase + doc_id (disjoint from the excerpt fixture's id
    * range). One changed byte is the planted near-identical payload the
    * perceptual hash must catch and the content hash must miss. Named so
    * the oracle SQL interpolates the SAME constants. */
  val PerturbKeyBase = 910000000L
  val DefaultPerturbEvery = 40

  def withPerturbedCopies(docs: DataFrame,
                          every: Int = DefaultPerturbEvery): DataFrame = {
    val copies = docs.filter(col("doc_id") % every === 0)
      .select((col("doc_id") + PerturbKeyBase).as("doc_id"),
        concat(lit("q"), substring(col("text"), 2, Int.MaxValue)).as("text"))
    docs.select("doc_id", "text").unionByName(copies)
  }

  /** Max Hamming distance for phash near-dup pairs. Either blocking
    * geometry keeps the band join EXACT for ham <= 7 by pigeonhole:
    * 4 bands of 16 bits with 1-bit probe expansion (7 flips over 4 bands
    * leave some band with <= floor(7/4) = 1), or 2 bands of 32 bits with
    * 3-bit probe expansion (some band has <= floor(7/2) = 3). */
  val DefaultPHashMaxHamming = 7

  /** Corpus-size cutoff between the two blocking geometries (media count,
    * from a count over the checkpointed 3-column hash frame). The dial
    * trades linear per-item candidate-generation rows against the RANDOM
    * band-collision floor (quadratic, and every phantom candidate is
    * shuffled 3 times: distinct + two hash-frame joins). For the SHIPPED
    * geometries — 4x16-bit with single-sided 1-flip probes, 2x32-bit with
    * the (2,1)-split radius-3 expansion ([[flip2Masks32]]/[[flip1Masks32]]):
    *   4x16: 68n probe rows,             floor (n^2/2)*4*(17*1)/2^16  ~ n^2/964
    *   2x32: 1058n probe + 66n build,    floor (n^2/2)*2*(529*33)/2^32 ~ n^2/246k
    * The 32-bit floor RATE is ~255x lower, so past tens of thousands of
    * media the quadratic term — which at the round-7 10x gate grew
    * shuffle rows 94x for 10x media under the 16-bit geometry — stays
    * subdominant to the ~16x larger linear candidate stream out to
    * ~100M media (streams match floor at n ~ 1124*246k/1058). The exact
    * 16384 crossover is EMPIRICAL, not derived: at that scale the two
    * geometries measured within 2x of each other either way
    * (BASELINE.md round 8); the formulas above bound the regimes, they
    * do not pin the constant. */
  val PHashAdaptiveCutoff = 16384L

  /** Media-count ceiling for HINTING broadcast of the 2-band build frame:
    * 66 rows/item at ~80-100 B each in the hashed relation (20 B of
    * (media_id, k, bv) data + UnsafeRow + map-entry overhead) puts 1M
    * media at ~5-7 GiB — under Spark's 8 GiB broadcast-table hard cap
    * with margin. Past the ceiling the HINT is dropped, not the join:
    * a hinted frame over the cap makes phashPairs THROW at runtime,
    * whereas the un-hinted plan degrades to a still-linear (529x
    * write-amplified) shuffle join that merely costs more. */
  val PHashBroadcastMaxMedia = 1000000L

  /** Near-identical payloads by perceptual dHash: pairs of media whose
    * 64-bit byte-grid hashes differ in <= maxHamming bits.
    *
    * Candidates come from multi-index hashing with query expansion
    * (Norouzi et al., "Fast Search in Hamming Space with Multi-Index
    * Hashing"): the hash splits into m disjoint bands; the probe side
    * emits each band value plus its <= floor(7/m)-bit flips, the build
    * side its exact band values, and the equi-join on (band, value)
    * meets every true pair by pigeonhole. The band COUNT adapts to the
    * corpus ([[PHashAdaptiveCutoff]]): 4x16-bit bands below (cheapest
    * probe stream), 2x32-bit bands above (128x lower quadratic collision
    * floor — the round-7 geometry's floor already dominated at the 10x
    * gate: shuffle rows grew 94x for 10x media). The verify step is two
    * XOR + bit_count column ops on the candidate rows.
    *
    * Plan shape either way: the build side is m exact rows per item —
    * small enough that AQE broadcasts it at any n where the floor
    * matters (no broadcast HINT: one row per item is unbounded at corpus
    * scale, and past broadcast range the exchange is still linear) — so
    * the probe explode is map-side streamed, never shuffled; only
    * verified candidates and true pairs hit exchanges. Identical-hash
    * cliques still pair in full, but those are TRUE ham=0 pairs —
    * output, not noise. The hash itself is one codegen expression pass
    * (graft_phash) — md5-free integer arithmetic end-to-end and
    * therefore fully oracle-checkable: DuckDB rebuilds every hash from
    * hex bytes WITHOUT any banding and must agree on every pair AND
    * every distance, so the geometry choice is provably invisible. */
  def phashPairs(media: DataFrame,
                 maxHamming: Int = DefaultPHashMaxHamming): DataFrame =
    phashPairsBanded(media, maxHamming, nBands = 0)

  /** XOR masks of Hamming weight <= 2 over a 32-bit band (probe-side
    * expansion for the 2-band geometry): 1 + 32 + 496 = 529 masks. The
    * radius-3 coverage the ham<=7 pigeonhole needs is SPLIT across the
    * two join sides (2 probe-side + 1 build-side): a single-sided r=3
    * expansion is 5489 masks — measured 10x slower end-to-end at the
    * 10x gate than the (2,1) split, whose streamed rows are 529/item
    * against a 33/item build. */
  private lazy val flip2Masks32: Array[Long] = {
    val m = scala.collection.mutable.ArrayBuffer(0L)
    for (i <- 0 until 32) m += (1L << i)
    for (i <- 0 until 32; j <- i + 1 until 32) m += ((1L << i) | (1L << j))
    m.toArray
  }

  /** XOR masks of Hamming weight <= 1 over a 32-bit band (build-side
    * expansion for the 2-band geometry): 33 masks. */
  private lazy val flip1Masks32: Array[Long] =
    (0L +: (0 until 32).map(1L << _)).toArray

  /** Band-geometry-forced form — `nBands` 0 picks adaptively by media
    * count; 4 and 2 force a geometry (spec-pinned identical outputs:
    * MultimodalSpec proves both geometries equal the unbanded oracle).
    * `broadcastMax` overrides [[PHashBroadcastMaxMedia]] so the spec can
    * pin the un-hinted 2-band plan's output too. */
  private[graft] def phashPairsBanded(media: DataFrame, maxHamming: Int,
                                      nBands: Int,
                                      broadcastMax: Long = PHashBroadcastMaxMedia): DataFrame = {
    require(maxHamming <= 7,
      s"maxHamming=$maxHamming > 7 breaks the band/probe pigeonhole")
    // Parallelism floor (round-9 PlanProbe finding): a small/flattened
    // corpus arrives as 1-2 scan partitions, the localCheckpoint below
    // PRESERVES that layout, and the ~529-mask probe explode + band join
    // then run near-serial (12.2 s of a 21.7 s wall on ONE task at the
    // 10x gate). When the input has fewer partitions than the session's
    // parallelism, hash-repartition by media_id first — deterministic
    // placement (never round-robin-on-rand, §2.5), and the exchange is
    // the small corpus's payloads only: a real 100 TB corpus arrives as
    // proportionally many files, the gate never fires, and no payload
    // byte is ever shuffled at scale (§8 discipline).
    // queryExecution.toRdd, not .rdd (round-9 advice): .rdd wraps the
    // internal RDD in a row-deserializing conversion layer per call;
    // toRdd reads the partition count off the already-planned physical
    // RDD. (Both plan the frame once — `media` is a raw scan in every
    // caller, so this is scan-partition arithmetic, not a job.) The
    // media_id repartition key is non-null by the corpus contract
    // (synthetic and stored media tables key every row); a null-heavy
    // media frame would concentrate in one partition and needs a
    // null-safe key before this gate fires.
    val sc = media.sparkSession.sparkContext
    val mediaPar =
      if (media.queryExecution.toRdd.getNumPartitions < sc.defaultParallelism)
        media.repartition(sc.defaultParallelism, col("media_id"))
      else media
    // ONE payload scan: everything downstream (bands, probes, both
    // verify joins, the adaptive count) reads the 3-column hash frame
    val ph = mediaPar
      .select(col("media_id"), graft.functions.PHashFunctions.phash(col("payload")).as("ph"))
      .filter(col("ph").isNotNull)
      .select(col("media_id"), col("ph.ph_hi").as("hi"), col("ph.ph_lo").as("lo"))
      .localCheckpoint(true)
    // counted ONCE over the checkpointed frame: picks the geometry AND
    // gates the 2-band broadcast hint below
    val nMedia = ph.count()
    val m =
      if (nBands == 4 || nBands == 2) nBands
      else if (nMedia <= PHashAdaptiveCutoff) 4 else 2
    val (bands, probes) =
      if (m == 4) {
        val bands = ph.select(col("media_id"), col("hi"), col("lo"),
            explode(typedLit((0 until 4).toArray)).as("k"))
          // hi/lo are unsigned 32-bit values in longs, so plain signed >>
          // is exact; band k = 16-bit slice k of the 64-bit hash
          .withColumn("bv",
            expr("CASE WHEN k < 2 THEN (lo >> (k * 16)) % 65536 " +
              "ELSE (hi >> ((k - 2) * 16)) % 65536 END"))
          .select("media_id", "k", "bv")
        // probe side: the exact band value (j = 0) plus its 16 one-bit flips
        val probes = bands
          .select(col("media_id"), col("k"), col("bv"),
            explode(typedLit((0 to 16).toArray)).as("j"))
          .select(col("media_id"), col("k"),
            when(col("j") === 0, col("bv"))
              .otherwise(expr("bv ^ (CAST(1 AS BIGINT) << (j - 1))")).as("bv"))
        (bands, probes)
      } else {
        val raw = ph.select(col("media_id"),
            explode(typedLit((0 until 2).toArray)).as("k"),
            col("hi"), col("lo"))
          .withColumn("bv",
            when(col("k") === 0, col("lo")).otherwise(col("hi")))
          .select("media_id", "k", "bv")
        // radius 3 per band, split (2,1) across the join sides: a pair
        // whose band distance is d <= 3 meets at v = build-band with one
        // differing bit flipped toward the probe (d(build,v) <= 1,
        // d(probe,v) = d-1 <= 2). The build side carries the broadcast
        // HINT when the corpus fits: the optimizer sizes both explodes
        // from their 2-rows-per-item input and would otherwise pick the
        // 16x-larger probe side as the build side (2.7 GiB driver
        // collect at the 10x gate). The hint is GATED on the media count
        // already in hand ([[PHashBroadcastMaxMedia]]): past the ceiling
        // a hinted 66-rows-per-item frame would cross Spark's 8 GiB
        // broadcast cap and THROW, so the frame goes un-hinted and the
        // join degrades to a still-linear shuffle instead of failing in
        // exactly the scale regime this geometry exists for.
        val build = raw
          .select(col("media_id"), col("k"), col("bv"),
            explode(typedLit(flip1Masks32)).as("msk"))
          .select(col("media_id"), col("k"),
            expr("bv ^ msk").as("bv"))
        val probes = raw
          .select(col("media_id"), col("k"), col("bv"),
            explode(typedLit(flip2Masks32)).as("msk"))
          .select(col("media_id"), col("k"),
            expr("bv ^ msk").as("bv"))
        (if (nMedia <= broadcastMax) broadcast(build) else build, probes)
      }
    val cand = probes.alias("a")
      .join(bands.alias("b"), col("a.k") === col("b.k") &&
        col("a.bv") === col("b.bv") && col("a.media_id") < col("b.media_id"))
      .select(col("a.media_id").as("media_a"), col("b.media_id").as("media_b"))
      .distinct()
    cand
      .join(ph.select(col("media_id").as("media_a"), col("hi").as("hia"),
        col("lo").as("loa")), Seq("media_a"))
      .join(ph.select(col("media_id").as("media_b"), col("hi").as("hib"),
        col("lo").as("lob")), Seq("media_b"))
      .withColumn("hamming",
        expr("bit_count(hia ^ hib) + bit_count(loa ^ lob)").cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("media_a"), col("media_b"), col("hamming"))
      .orderBy("media_a", "media_b")
  }

  /** Metadata extraction over the opaque payload: pure column ops, no
    * decode — the cheap pre-filter pass a 100 TB pipeline runs first. */
  def metaExtract(media: DataFrame): DataFrame =
    media.select(
      col("media_id"), col("modality"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      md5(col("payload")).as("content_hash"),
      hex(substring(col("payload"), 1, 8)).as("magic_prefix"))
      .orderBy("media_id")

  /** REAL per-payload feature extraction — no stub, no mapPartitions, no
    * UDF: one codegen expression pass (`graft_image_features`) computes
    * the 256-bucket byte histogram, its Shannon entropy, and the coarse
    * high-nibble counts, while `graft_image_dims` parses the container
    * header for width/height (both stay inside whole-stage codegen). This
    * is the cheap triage vector a 100 TB multimodal pipeline computes for
    * every payload before any codec ever runs: entropy separates
    * compressed/encrypted/garbage payloads from structured ones, the
    * nibble histogram fingerprints the container, and the parsed
    * dimensions gate downstream decode work. */
  def imageFeatures(media: DataFrame): DataFrame = {
    val cols = Seq(
      col("media_id"),
      col("dims.format").as("format"),
      col("dims.width").as("width"),
      col("dims.height").as("height"),
      col("bf.n_bytes").as("n_bytes"),
      round(col("bf.entropy"), 4).as("entropy")) ++
      (0 until 16).map(i => col(s"bf.h$i").as(s"h$i"))
    media.select(col("media_id"),
        graft.functions.ImageFunctions.imageDims(col("payload")).as("dims"),
        graft.functions.ImageFunctions.imageFeatures(col("payload")).as("bf"))
      .select(cols: _*)
      .orderBy("media_id")
  }

  /** A corpus of REAL (header-valid) image binaries derived from the
    * documents table — even doc_ids become PNGs, odd doc_ids JPEGs, with
    * per-doc dimensions. The JPEG carries a variable-length COM segment
    * ahead of its SOF0 frame header so the decoder's marker walk faces a
    * different frame-header offset on every row (a fixed-offset "parser"
    * would fail). Built with pure column ops (hex assembly + one unhex) —
    * fixture generation is itself a distributed plan, nothing driver-side. */
  def syntheticImageCorpus(docs: DataFrame): DataFrame = {
    val w = (col("doc_id") % 509 + 16).cast("int")
    val h = ((col("doc_id") * 7) % 389 + 16).cast("int")
    val k = (col("doc_id") % 11).cast("int") // JPEG comment length, 0..10
    def hex4(c: org.apache.spark.sql.Column) = lpad(hex(c), 4, "0")
    def hex8(c: org.apache.spark.sql.Column) = lpad(hex(c), 8, "0")
    // PNG: signature + IHDR(len,type,w,h,depth 8,color 6,comp/filt/interlace)
    // + chunk CRC (unchecked by header decode) + empty IEND
    val pngHex = concat(
      lit("89504E470D0A1A0A"), lit("0000000D"), lit("49484452"),
      hex8(w), hex8(h), lit("080600" + "0000"),
      lit("DEADBEEF"), lit("0000000049454E44AE426082"))
    // JPEG: SOI + COM(len 2+k, k comment bytes) + SOF0(len 11, precision 8,
    // h, w, 1 component, spec 01 11 00) + EOI
    val jpegHex = concat(
      lit("FFD8"), lit("FFFE"), hex4(k + 2),
      substring(lit("4142434445464748494A4B"), lit(1), k * 2),
      lit("FFC0" + "000B" + "08"), hex4(h), hex4(w),
      lit("01011100"), lit("FFD9"))
    docs.select(
      col("doc_id").as("media_id"),
      when(col("doc_id") % 2 === 0, "png").otherwise("jpeg").as("modality"),
      unhex(when(col("doc_id") % 2 === 0, pngHex).otherwise(jpegHex))
        .as("payload"))
  }

  /** REAL decode: parse PNG IHDR / JPEG SOFn headers from the payload
    * bytes with the codegen `graft_image_dims` expression (the production
    * replacement for the feature-stub — corrupt rows surface as nulls,
    * never task failures). */
  def imageMeta(media: DataFrame): DataFrame = {
    media.select(col("media_id"),
        graft.functions.ImageFunctions.imageDims(col("payload")).as("dims"))
      .select(col("media_id"), col("dims.format").as("format"),
        col("dims.width").as("width"), col("dims.height").as("height"),
        col("dims.bit_depth").as("bit_depth"))
      .orderBy("media_id")
  }

  /** A corpus of REAL (header-valid) WAV binaries derived from the
    * documents table: RIFF envelope, a variable-length LIST chunk ahead of
    * `fmt ` (odd sizes exercise the RIFF even-boundary pad rule — a
    * fixed-offset "parser" would desync), PCM fmt fields from per-doc
    * formulas, and a data chunk whose size encodes the sample count. Pure
    * column ops (hex assembly + one unhex) — fixture generation is itself
    * a distributed plan. */
  def syntheticAudioCorpus(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    def leHex(c: Column, nBytes: Int): Column =
      concat((0 until nBytes).map(i =>
        lpad(hex(shiftright(c, 8 * i).bitwiseAND(lit(255L))), 2, "0")): _*)
    val id = col("doc_id").cast("long")
    val ch = id % 2 + 1
    val bits = (id % 3 + 1) * 8
    val rate = lit(8000L) + (id % 5) * 11025
    val k = id % 7 // LIST payload bytes (odd k exercises the pad rule)
    val ns = id % 9 + 1 // sample frames
    val block = ch * (id % 3 + 1) // channels * bytes-per-sample
    val dataSize = block * ns
    val listTotal = lit(8L) + k + (k % 2)
    val riffSize = lit(4L) + listTotal + 24 + 8 + dataSize
    val wavHex = concat(
      lit("52494646"), leHex(riffSize, 4), lit("57415645"),
      lit("4C495354"), leHex(k, 4),
      lit("41414141414141").substr(lit(1), (k * 2).cast("int")),
      lit("00").substr(lit(1), ((k % 2) * 2).cast("int")),
      lit("666D7420"), leHex(lit(16L), 4), leHex(lit(1L), 2), leHex(ch, 2),
      leHex(rate, 4), leHex(rate * block, 4), leHex(block, 2), leHex(bits, 2),
      lit("64617461"), leHex(dataSize, 4),
      lit("00" * 54).substr(lit(1), (dataSize * 2).cast("int")))
    docs.select(col("doc_id").as("media_id"), lit("wav").as("modality"),
      unhex(wavHex).as("payload"))
  }

  /** REAL audio decode: walk the RIFF chunk list in the payload bytes with
    * the codegen `graft_audio_meta` expression (LE reads, pad-aware skip
    * of unknown chunks) and recover PCM params + duration. */
  def audioMeta(media: DataFrame): DataFrame = {
    media.select(col("media_id"),
        graft.functions.MediaFunctions.audioMeta(col("payload")).as("m"))
      .select(col("media_id"), col("m.format").as("format"),
        col("m.audio_format").as("audio_format"),
        col("m.channels").as("channels"),
        col("m.sample_rate").as("sample_rate"),
        col("m.bits_per_sample").as("bits_per_sample"),
        col("m.n_samples").as("n_samples"),
        col("m.duration_ms").as("duration_ms"))
      .orderBy("media_id")
  }

  /** A corpus of REAL (structure-valid) MP4 binaries: ftyp, then a
    * variable-length `free` box — emitted with a 64-bit `largesize` on
    * every 5th row so the decoder's large-box path is exercised — then
    * moov with an mvhd (version 1 with 64-bit times on every 3rd row) and
    * 1..3 trak stubs. Pure column ops. */
  def syntheticVideoCorpus(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    def be32(c: Column): Column = lpad(hex(c), 8, "0")
    def be64(c: Column): Column = lpad(hex(c), 16, "0")
    val id = col("doc_id").cast("long")
    val v1 = id % 3 === 0
    val tsc = lit(600L) + (id % 4) * 400
    val dur = tsc * (id % 20 + 1) + id % 37
    val ntrk = id % 3 + 1
    val f = id % 13 // free-box payload bytes
    val useLarge = id % 5 === 0
    val trakHex = "000000147472616B0000000C6672656500000000" // trak{free}
    val mp4Hex = concat(
      lit("0000001066747970" + "69736F6D" + "00000000"),
      when(useLarge, concat(lit("00000001" + "66726565"), be64(f + 16)))
        .otherwise(concat(be32(f + 8), lit("66726565"))),
      lit("41" * 12).substr(lit(1), (f * 2).cast("int")),
      be32(when(v1, 128L).otherwise(116L) + ntrk * 20), lit("6D6F6F76"),
      when(v1, concat(lit("00000078" + "6D766864" + "01000000" + "00" * 16),
          be32(tsc), be64(dur)))
        .otherwise(concat(lit("0000006C" + "6D766864" + "00000000" + "00" * 8),
          be32(tsc), be32(dur))),
      lit("00" * 80),
      lit(trakHex * 3).substr(lit(1), (ntrk * 40).cast("int")))
    docs.select(col("doc_id").as("media_id"), lit("mp4").as("modality"),
      unhex(mp4Hex).as("payload"))
  }

  /** REAL video decode: walk the ISO-BMFF box tree in the payload bytes
    * with the codegen `graft_video_meta` expression (largesize-aware
    * top-level walk, moov child walk for mvhd v0/v1 + trak count). */
  def videoMeta(media: DataFrame): DataFrame = {
    media.select(col("media_id"),
        graft.functions.MediaFunctions.videoMeta(col("payload")).as("m"))
      .select(col("media_id"), col("m.format").as("format"),
        col("m.brand").as("brand"),
        col("m.mvhd_version").as("mvhd_version"),
        col("m.timescale").as("timescale"),
        col("m.duration").as("duration"),
        col("m.duration_ms").as("duration_ms"),
        col("m.n_tracks").as("n_tracks"))
      .orderBy("media_id")
  }

  /** Deterministic "resize" stub (image-style): sample `outBytes` evenly-
    * strided bytes across the payload, emitted as one hex string — the
    * fixed-size thumbnail shape a real image resize produces, computable
    * as pure column ops (a real resizer swaps in at the decode stub, not
    * here). Payloads shorter than outBytes repeat positions; empty
    * payloads yield an empty string. */
  def resizeStub(media: DataFrame, outBytes: Int = 32): DataFrame =
    media.select(col("media_id"), col("modality"),
      octet_length(col("payload")).cast("long").as("n_bytes"),
      array_join(transform(sequence(lit(0), lit(outBytes - 1)),
        // i*len as LONG: an INT product overflows (ANSI throw) past ~69 MB
        // payloads, and the oracle's arithmetic is 64-bit
        i => hex(substring(col("payload"),
          floor((i.cast("long") * octet_length(col("payload"))) / outBytes)
            .cast("int") + 1,
          lit(1)))),
        "").as("resized_hex"))
      .orderBy("media_id")

  /** Fixed-size frame sampling from a binary payload (video-style): every
    * `stride`-th chunk of `frameBytes` bytes, as exploded rows. Pure
    * column slicing — no decode, no driver round-trip. */
  def sampleFrames(media: DataFrame, frameBytes: Int = 16, stride: Int = 4): DataFrame = {
    val hop = frameBytes * stride
    // empty payload gate: Spark's sequence(0, -1) counts DOWN ([0,-1]),
    // which would emit two phantom frames where the oracle emits none
    media.select(col("media_id"), posexplode(expr(
      s"""CASE WHEN octet_length(payload) = 0 THEN CAST(array() AS ARRAY<BINARY>)
         |ELSE transform(sequence(0, CAST(floor((octet_length(payload) - 1) / $hop.0) AS INT)),
         |               i -> substring(payload, i * $hop + 1, $frameBytes)) END""".stripMargin))
      .as(Seq("frame_idx", "frame")))
      .withColumn("frame_bytes", octet_length(col("frame")).cast("long"))
      .orderBy("media_id", "frame_idx")
  }
}
