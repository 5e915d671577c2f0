package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal operators over a media stand-in (north-star extension):
  * typed metadata, frame sampling and perceptual near-dup signatures,
  * all declarative column expressions and DuckDB-oracle-checked.
  *
  * There are no image/audio codecs in this environment (SURVEY §2.5
  * boundary discipline), so the text column stands in for the media
  * payload; a real deployment swaps the feature step for a decoder and
  * keeps the plan around it.
  *
  * At 100 TB: media rows are large → keep
  * `spark.sql.files.maxPartitionBytes` small for these scans, never
  * collect, and carry only (id, metadata, features) past the decode
  * stage — the binary column is pruned away by Catalyst the moment no
  * downstream expression references it.
  */
object Multimodal {

  /** Frame sampling as a generator: 1 media row → N fixed-size frame
    * rows (the video-frame / audio-window shape), each with its offset
    * and a portable content checksum. Narrow transform — frames pipeline
    * straight out of the scan, no shuffle.
    */
  def sampleFrames(docs: DataFrame, idCol: String, textCol: String, frameSize: Int): DataFrame = {
    val nFrames = greatest(
      expr(s"CAST((length($textCol) + ${frameSize - 1}) div $frameSize AS INT)"), lit(1))
    val frames = transform(
      sequence(lit(0), nFrames - 1),
      i => col(textCol).substr(i * frameSize + 1, lit(frameSize)))
    docs
      .select(col(idCol).as("doc_id"), posexplode(frames).as(Seq("frame_id", "frame")))
      .filter(length(col("frame")) > 0)
      .select(
        col("doc_id"),
        col("frame_id").cast("long").as("frame_id"),
        length(col("frame")).cast("long").as("frame_len"),
        Dedup.h32(col("frame")).as("frame_checksum"))
  }

  /** Declarative metadata projection (oracle-checkable): byte length,
    * frame count at `frameSize`, and a portable content checksum.
    */
  def mediaMeta(docs: DataFrame, idCol: String, textCol: String, frameSize: Int): DataFrame =
    docs.select(
      col(idCol).as("doc_id"),
      octet_length(col(textCol)).cast("long").as("n_bytes"),
      expr(s"CAST((octet_length($textCol) + ${frameSize - 1}) div $frameSize AS BIGINT)")
        .as("n_frames"),
      Dedup.h32(col(textCol)).as("checksum"))

  /** 32-bit min-hash perceptual signature over the media stand-in —
    * the multimodal near-dup verb's first half, after Chum et al.,
    * "Near Duplicate Image Detection: min-Hash and tf-idf Weighting"
    * (BMVC 2008): hash the media's LOCAL features with `bits`
    * independent min-hashes and keep one parity bit per hash. Two
    * payloads sharing fraction J of their features agree on each bit
    * with probability `J + (1-J)/2`, so Hamming distance estimates
    * feature-set Jaccard — and the signature is INSERTION-ROBUST: an
    * edit only disturbs the features overlapping it. (Two rejected
    * designs, measured on this corpus's planted near-dups: a
    * fixed-grid aHash scatters them to Hamming ~16 because a 4-byte
    * insertion shifts every downstream cell; per-position char
    * windows were 100× slower than this form — a positional
    * filter/transform/substr HOF chain is interpreted per element
    * with O(position) UTF-8 scans, 372 µs/doc of pure explode cost,
    * where the token-array shingle path below is the same machinery
    * the whole dedup family already runs fast.)
    *
    * The deterministic "local feature" stand-in is CONTENT-DEFINED
    * CHUNKING: split the payload at anchor bytes ([[Dedup.tokens]] —
    * the space byte of the text stand-in; a real byte-stream
    * deployment splits at rolling-hash boundaries, the LBFS/CDC
    * trick, and a real media deployment swaps in visual words / audio
    * fingerprint peaks at the decoder boundary), then each run
    * of `shingleN` consecutive chunks is one feature
    * ([[Dedup.shingles]]). Chunk boundaries depend only on nearby
    * content, never on absolute offsets, so an edit disturbs only the
    * features overlapping it. A payload with fewer than `shingleN`
    * chunks contributes its whole content as one feature, so every
    * non-empty payload gets a signature; empty payloads drop (no
    * features — nothing to compare).
    *
    * All-integer end to end (one [[Dedup.h32]] per feature, parity,
    * literal bit weights): bit-identical across engines, no
    * float-threshold quantization caveat. The `bits` permutations are
    * NOT `bits` seeded md5 passes — that costs `bits ×` the corpus
    * hash work (measured 33 s warm at sf0.1); instead ONE md5 per
    * feature, then `bits` affine universal-hash variants
    * `(a_j·h + j) mod p` over the Mersenne prime p = 2^31−1 (a_j =
    * Knuth-multiplicative constants, each an exact bijection on Z_p) —
    * pure integer arithmetic inside whole-stage codegen, folded by
    * ONE map-side-combinable group-by carrying `bits` min aggregates
    * (the simHash 32-conditional-agg discipline). Output
    * `(doc_id, phash)`.
    */
  def perceptualHash(docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 2, bits: Int = 32): DataFrame = {
    require(bits >= 1 && bits <= 32, s"perceptualHash: bits ($bits) must be in [1, 32]")
    require(shingleN >= 1, s"perceptualHash: shingleN ($shingleN) must be >= 1")
    val P = 2147483647L // 2^31 - 1; products a_j·h stay < 2^62
    // h in its OWN projection so the md5 is evaluated once per feature,
    // not re-inlined into each of the `bits` aggregate expressions
    val grams = docs
      .select(col(idCol).cast("long").as("doc_id"),
        Dedup.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col("doc_id"), Dedup.shingles(col("__toks"), shingleN).as("__sh"),
        col("__toks"))
      .select(col("doc_id"),
        explode(when(size(col("__sh")) > 0, col("__sh"))
          .otherwise(array(array_join(col("__toks"), " ")))).as("g"))
      .select(col("doc_id"), (Dedup.h32(col("g")) % P).as("h"))
    val mins = (0 until bits).map { j =>
      val aj = (2654435761L * (j + 1)) % P // Knuth 2^32/phi; nonzero mod p
      min((col("h") * aj + j) % P).as(s"m$j")
    }
    val phash = (0 until bits)
      .map(j => when(col(s"m$j") % 2 === 1, lit(1L << j)).otherwise(lit(0L)))
      .reduce(_ + _)
    grams.groupBy(col("doc_id"))
      .agg(mins.head, mins.tail: _*)
      .select(col("doc_id"), phash.as("phash"))
  }

  /** Multimodal near-dup pairs: perceptual signature → the existing
    * Hamming-prefix bucket machinery ([[Dedup.simHashPairs]] — bucket
    * by the top `prefixBits` bits, compare only same-bucket pairs via
    * `bit_count(xor)`). Identical payloads land at Hamming 0; features
    * an edit never touched keep their min-hashes, so small edits stay
    * within a few bits. `prefixBits` is the scale knob: pick
    * ~log2(corpus / target-bucket) so buckets stay tens-of-docs small
    * (12 bits ⇒ ~122/bucket at 500k docs; recall degrades gracefully —
    * measured 32→29 of the sf0.01 pairs going 8→12 bits).
    *
    * The signature frame is eagerly `localCheckpoint`ed before the
    * self-join: its two sides consume the subtree through DIFFERENT
    * exchange kinds (one shuffle, one broadcast), so ReuseExchange
    * cannot share them and the whole scan→feature→min-hash pipeline
    * would run twice (measured ~2× the query at 100×). The pinned
    * table is one (id, long) row per doc — ~16 B/doc at any corpus
    * size, the cheapest possible thing to materialize. CONTRACT
    * caveats of that workaround: (1) merely CONSTRUCTING this frame
    * runs a Spark job (the eager checkpoint materializes the
    * signature pass at call time, not at first action); (2) the
    * pinned blocks live in executor storage only — they do NOT
    * survive executor loss, so on a lossy cluster a downstream action
    * can fail with a missing-checkpoint-block error rather than
    * recompute (use `Dataset.checkpoint` to a reliable dir if that
    * trade-off is wrong for the deployment).
    * Output `(doc_a, doc_b, hamming)`.
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String,
      prefixBits: Int, maxHamming: Int, shingleN: Int = 2): DataFrame =
    Dedup.simHashPairs(
      perceptualHash(docs, idCol, textCol, shingleN)
        .withColumnRenamed("phash", "simhash")
        .localCheckpoint(true),
      prefixBits, maxHamming)
}
