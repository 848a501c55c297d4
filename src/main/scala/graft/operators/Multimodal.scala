package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.8): media as opaque
  * `binary` payloads plus typed metadata, with decode / feature
  * extraction as a batched per-partition pass — the Scala-Spark
  * equivalent of a `mapInPandas` stage.
  *
  * The decode step is a clearly-marked deterministic STUB (the real
  * image/audio codecs are not in this environment); everything around
  * it — schema, binary column, partition batching, typed output — is
  * the real production shape: swap [[MediaDecoder.decode]] for a codec
  * call and nothing else changes.
  */
object Multimodal {

  /** Raw media record: id + opaque bytes (as parquet would store it). */
  final case class MediaRow(doc_id: Long, payload: Array[Byte])

  /** Typed decode output — the "image metadata" struct. */
  final case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long,
                             height: Long, n_frames: Long)

  /** STUB decoder: derives fake-but-deterministic media properties from
    * the payload's rolling hash. A real build replaces this body with
    * e.g. javax.imageio / ffmpeg bindings; the signature (bytes in,
    * typed meta out) is the contract.
    */
  object MediaDecoder {
    def decode(r: MediaRow): MediaMeta = {
      // the STUB treats the payload as UTF-8 text (true for this
      // pipeline's text-derived payloads) and folds its code points to
      // match the SQL oracle; a REAL decoder keys on raw bytes and
      // replaces this whole body, so the lossy UTF-8 decode of
      // arbitrary binary (U+FFFD) is a stub-only property
      val h = graft.functions.HashImpl.polyHash(
        org.apache.spark.unsafe.types.UTF8String.fromBytes(r.payload))
      MediaMeta(
        doc_id = r.doc_id,
        n_bytes = r.payload.length.toLong,
        width = 64L + h % 512L,
        height = 64L + (h / 512L) % 512L,
        n_frames = 1L + h % 8L)
    }
  }

  /** Attach a binary payload column (here: the utf-8 bytes of `text`,
    * standing in for image bytes read from object storage).
    */
  def withPayload(docs: DataFrame): DataFrame =
    docs.withColumn("payload", encode(col("text"), "utf-8"))

  /** The batched decode pass: one iterator per partition (so a real
    * decoder can amortize codec init per batch, exactly like
    * mapInPandas), typed output via Encoders.
    */
  def decodeAll(spark: SparkSession, docs: DataFrame): Dataset[MediaMeta] = {
    import spark.implicits._
    withPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[MediaRow]
      .mapPartitions { rows => rows.map(MediaDecoder.decode) }
  }

  /** Resize planning over decoded metadata: target dims fitting a
    * `box`×`box` square, aspect preserved, integer floor arithmetic,
    * never upscaling — the pure-plan half of an image resize (the
    * pixel work belongs to the stubbed codec; a real build feeds
    * (payload, out_w, out_h) to it). Scan-side projection on the
    * batched decode pass: no shuffle, and the arithmetic is mirrored
    * exactly by the DuckDB oracle.
    */
  def resizePlan(spark: SparkSession, docs: DataFrame, box: Int = 224): DataFrame = {
    // dims are positive, so truncating `div` == floor division here
    import org.apache.spark.sql.graft.Bridge.ldiv
    decodeAll(spark, docs).toDF()
      .withColumn("__mx", greatest(col("width"), col("height")))
      .select(col("doc_id"), col("width"), col("height"),
        when(col("__mx") <= box, col("width"))
          .otherwise(ldiv(col("width") * box, col("__mx"))).as("out_w"),
        when(col("__mx") <= box, col("height"))
          .otherwise(ldiv(col("height") * box, col("__mx"))).as("out_h"),
        (col("__mx") > box).as("resized"))
  }

  /** One sampled frame of a media row: the decode stub's per-frame
    * output. `frame_ref` is a deterministic handle (payload fingerprint
    * mixed with the frame index) standing in for decoded frame bytes.
    */
  final case class MediaFrame(doc_id: Long, n_frames: Long,
                              frame_idx: Long, frame_ref: Long)

  /** Frame sampling for video-style payloads: every `everyKth` frame of
    * each media row, emitted by the same batched per-partition decode
    * pass as [[decodeAll]] (a real codec decodes once and yields the
    * sampled frames from that single decode).
    *
    * Scale shape: a scan-side flatMap — no shuffle at all; the frame
    * fan-out (≤ 8 rows per doc here, bounded by the decode metadata)
    * inherits the corpus partitioning, so downstream per-frame feature
    * extraction stays co-located with its document.
    */
  /** Per-window audio analysis output: exact integer energy (sum of
    * squared samples) and peak amplitude per fixed-size frame.
    */
  final case class AudioWin(doc_id: Long, n_samples: Long, win_idx: Long,
                            energy: Long, peak: Long)

  /** Samples per analysis window — interpolated into the oracle SQL so
    * the two sides cannot drift.
    */
  val AudioWinSize = 16L

  /** Windowed audio feature extraction for audio-style payloads: the
    * decode stub derives a deterministic integer waveform from the
    * payload fingerprint (a real build replaces it with a PCM decode),
    * then non-overlapping [[AudioWinSize]]-sample frames reduce to
    * (energy, peak) — the framing/feature shape of a real
    * VAD/loudness pass, with every quantity exact 64-bit integer
    * arithmetic so the oracle reproduces it bit-for-bit.
    *
    * Scale shape: the same batched per-partition decode pass as
    * [[decodeAll]] — a scan-side flatMap, zero shuffle; window rows
    * (≤ 8 per doc here) inherit the corpus partitioning so
    * downstream per-frame work stays co-located.
    */
  def audioFeatures(spark: SparkSession, docs: DataFrame): Dataset[AudioWin] = {
    import spark.implicits._
    val winSz = AudioWinSize
    withPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = graft.functions.HashImpl.polyHash(
            org.apache.spark.unsafe.types.UTF8String.fromBytes(r.payload))
          val n = 64L + h % 64L
          val nWins = (n + winSz - 1) / winSz
          (0L until nWins).iterator.map { w =>
            var i = w * winSz
            val end = math.min(i + winSz, n)
            var energy = 0L
            var peak = 0L
            while (i < end) {
              val s = ((h * TextOps.HashMul + i) % TextOps.HashMod) % 2001L - 1000L
              energy += s * s
              val a = math.abs(s)
              if (a > peak) peak = a
              i += 1
            }
            AudioWin(r.doc_id, n, w, energy, peak)
          }
        }
      }
  }

  /** Exact media dedup by content address: sha-256 over the raw
    * payload BYTES (not any decoded form — byte-identical files dedup
    * even when codecs would decode them differently), keep the lowest
    * id per content group. This is the first gate of a multimodal
    * pipeline: it needs no decode at all, so it runs on payloads whose
    * codec is missing/broken.
    *
    * Scale shape: ONE hash shuffle on the 32-byte digest (uniformly
    * distributed — no skew by construction); shuffle rows carry
    * (id, digest, length), never the payload.
    *
    * Output: idCol, content_sha, n_bytes, keep.
    */
  def dedupExact(docs: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("content_sha"))
    withPayload(docs)
      .select(col(idCol), sha2(col("payload"), 256).as("content_sha"),
        length(col("payload")).cast("long").as("n_bytes"))
      .withColumn("keep", col(idCol) === min(col(idCol)).over(w))
  }

  /** Pixels per stub "thumbnail" — interpolated into the oracle SQL.
    * ALSO the hash width (1 bit/pixel) and therefore the scale dial:
    * random (non-dup) pairs collide in a band with probability
    * bands/2^bandBits, so a 16-bit hash has a n²·2/2^8 candidate
    * floor — measured as a 4.8× super-linear leg on the sf1 curve
    * back when it was the registered mm_phash geometry.
    * The production geometry — and the DEFAULT — is pixels=64 with
    * `bandBits`=16 (real phash dimensions): 4 bands × 2^16 buckets
    * pushes the random-candidate floor n²·bands/2^bandBits below
    * corpus size while pigeonhole still guarantees recall for
    * hamming <= 3. The narrow 16-pixel/8-bit-band geometry remains
    * available by parameter (registered as mm_phash_narrow) because
    * its dense buckets exercise the verify stage on tiny corpora.
    */
  val PhashPixels = 64
  val PhashBandBits = 16

  /** Perceptual hash of a media row (aHash shape: mean-threshold the
    * grayscale thumbnail): the decode stub derives [[PhashPixels]]
    * deterministic "pixel" intensities from the payload fingerprint
    * (a real build decodes + downsamples the actual image here), and
    * bit i is set when pixel i is above the thumbnail mean — compared
    * exactly as p_i · N > Σp, so every quantity stays 64-bit integer
    * and the oracle reproduces the hash bit-for-bit.
    */
  final case class PHash(doc_id: Long, phash: Long)

  def phashAll(spark: SparkSession, docs: DataFrame,
               nPixels: Int = PhashPixels): Dataset[PHash] = {
    import spark.implicits._
    val n = nPixels
    withPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.map { r =>
          val h = graft.functions.HashImpl.polyHash(
            org.apache.spark.unsafe.types.UTF8String.fromBytes(r.payload))
          // squared mix: a plain (h*c + i) progression leaves pixel
          // deltas CONSTANT mod 256, collapsing the corpus onto ~256
          // phashes (measured: 111k candidate pairs from 500 docs);
          // t² mod P breaks the arithmetic structure. t < 2^30 so t²
          // stays well inside 64 bits on every engine.
          val px = Array.tabulate(n) { i =>
            val t = (h + i * 654664997L) % TextOps.HashMod
            (t * t) % TextOps.HashMod % 256L
          }
          val tot = px.sum
          var ph = 0L
          var i = 0
          while (i < n) {
            if (px(i) * n > tot) ph |= 1L << i
            i += 1
          }
          PHash(r.doc_id, ph)
        }
      }
  }

  /** Perceptual near-dup pairs — the NEAR counterpart of [[dedupExact]]
    * (re-encoded/resized copies share a phash even when bytes differ):
    * band the [[PhashPixels]]-bit hash into byte-wide blocks, candidates
    * collide in >= 1 block, verify true hamming <= `maxHamming`
    * (pigeonhole: full recall up to bands-1 flipped bits; the same
    * recall/cost dial as SimHash text dedup).
    *
    * Scale shape (r13): EXACT-HASH CLUSTERS collapse first — a
    * duplicate-heavy corpus (the norm for media dedup: re-posts,
    * mirrored uploads) puts many docs on ONE phash, and banding at
    * doc grain made every shared band a c²-candidate cell (measured
    * at 100x: 500k docs -> 133k distinct hashes, 444M doc-grain
    * candidates, 84M survivors into a 13 s distinct). Banding the
    * DISTINCT hashes instead drops candidates to rep-pair grain
    * (~0.5M at the same scale); member ids ride each hash as a
    * collected array and the final (id_a, id_b) pairs expand
    * SCAN-SIDE — within-cluster pairs at hamming 0 plus rep-pair
    * cross products — so the only remaining quadratic term is the
    * OUTPUT itself, which is the operator's contract ("emit all
    * near-dup pairs": 35M pairs at 100x IS the answer, not overhead).
    * The rep-pair dedup that replaced the doc-grain distinct handles
    * a few thousand rows, not 84M.
    *
    * Hot-bucket cap (`maxBucket`, the doc_dedup_ngram_jaccard_pruned
    * df-cap convention): a (band, bucket) cell of c DISTINCT hashes
    * generates c²/2 rep candidates, so a skewed band byte can still
    * dominate; cells above the cap are skipped as candidate SOURCES
    * via an anti-join against the (normally EMPTY) hot-cell list.
    * The cap counts distinct HASHES, not docs — a million exact
    * copies are one codeword, not a hot cell. Recall caveat, stated
    * honestly: a true near-dup pair is lost only if EVERY band the
    * two hashes agree on is hot — pigeonhole still gives each
    * hamming<=bands-1 pair `bands - hamming` chances. At the default
    * 1024 the uniform-hash expectation stays orders of magnitude
    * below the cap at any tested scale, so the cap is pure skew
    * insurance there; the oracle mirrors it unconditionally.
    */
  def phashPairs(spark: SparkSession, docs: DataFrame,
                 maxHamming: Int = 3, bandBits: Int = PhashBandBits,
                 nPixels: Int = PhashPixels,
                 maxBucket: Int = 1024): DataFrame = {
    val bands = nPixels / bandBits
    val ph = phashAll(spark, docs, nPixels).toDF()
    // one row per DISTINCT phash with its member ids; checkpointed —
    // it feeds the within-cluster expansion, the hot-cell agg, and
    // both band-join sides
    val clusters = ph.groupBy(col("phash"))
      .agg(sort_array(collect_list(col("doc_id"))).as("ms"))
      .localCheckpoint(false)
    // within-cluster pairs: identical phash, hamming 0 — content-
    // address dedup, emitted UNCONDITIONALLY (the band cap governs
    // only the near search; the oracle mirrors this with a dedicated
    // equal-phash arm)
    // two-level explode so no single row ever materializes the c²/2
    // pair array (a 1e6-member exact-dup cluster would overflow the
    // 2^31 array-element limit): the outer posexplode yields one row
    // per member, the inner explode expands only that member's O(c)
    // successor slice. ms is ascending (sort_array), so id_a < id_b
    // holds by construction.
    val within = clusters.where(size(col("ms")) >= 2)
      .select(col("ms"), posexplode(col("ms")).as(Seq("i", "id_a")))
      .select(col("id_a"), explode(slice(col("ms"), col("i") + lit(2),
        greatest(size(col("ms")) - col("i") - 1, lit(0)))).as("id_b"))
      .select(col("id_a"), col("id_b"), lit(0).as("hamming"))
    val banded0 = Dedup.bitBands(clusters, "phash", bandBits, bands)
    val hot = banded0.groupBy(col("band"), col("bk"))
      .agg(count(lit(1)).as("__df"))
      .where(col("__df") > maxBucket)
      .select("band", "bk")
    val banded = banded0.join(broadcast(hot), Seq("band", "bk"), "left_anti")
    // rep-level candidates (the distinct phash is the id, its member
    // ids ride along): tiny after the hamming verify, so the multi-band
    // dedup runs over thousands of rows
    val repPairs = Dedup.bandPairs(banded, "phash", "phash", maxHamming, "ms")
    val cross = repPairs
      .select(col("hamming"), explode(col("ms_a")).as("da"), col("ms_b"))
      .select(col("hamming"), col("da"), explode(col("ms_b")).as("db"))
      .select(least(col("da"), col("db")).as("id_a"),
        greatest(col("da"), col("db")).as("id_b"), col("hamming"))
    within.unionByName(cross)
  }

  /** Frame-signature video near-dup: two videos are candidate
    * duplicates when their SAMPLED frames share content signatures —
    * the standard sampled-keyframe video-dedup shape, here over
    * [[sampleFrames]]'s stub refs (a real decoder swaps in a
    * perceptual frame hash; every plan feature below is unchanged).
    * Output per pair: (id_a, id_b, n_shared, overlap) with overlap =
    * shared / min(sampled_a, sampled_b) — containment, so a clip
    * embedded in a longer video still scores 1.0.
    *
    * Scale shape: an inverted index on the frame signature — the
    * shuffle carries (ref, doc_id) pairs only, never frames or
    * payload — with the posting-list df-cap (`maxRefDf`) bounding the
    * hottest signature exactly like the n-gram Jaccard chain; the
    * pair agg is map-side combinable.
    */
  def frameDupPairs(spark: SparkSession, docs: DataFrame,
                    everyKth: Int = 2, maxRefDf: Int = 16): DataFrame = {
    import org.apache.spark.sql.graft.Bridge.ldiv
    // one posting per sampled frame; the decode emits every
    // `everyKth`-th of a doc's n_frames, so its posting count is known
    // scan-side
    val fr = sampleFrames(spark, docs, everyKth).toDF()
      .select(col("doc_id").as("id"),
        ldiv(col("n_frames") + lit(everyKth - 1L), everyKth.toLong).as("n"),
        col("frame_ref"))
    overlapPairs(Dedup.postingPairs(fr, "frame_ref", Some(maxRefDf)))
  }

  /** Containment of a [[Dedup.postingPairs]] pair: shared keys over the
    * smaller id's posting count, so a clip inside a longer media row
    * scores 1.0. Output: id_a, id_b, n_shared, overlap.
    */
  private[graft] def overlapPairs(pairs: DataFrame): DataFrame =
    pairs.select(col("id_a"), col("id_b"), col("n_shared"),
      round(col("n_shared").cast("double") /
        least(col("n_a"), col("n_b")), 6).as("overlap"))

  /** Audio near-dup via CONSTELLATION fingerprints (the Shazam-family
    * landmark idea — Wang 2003 — at stub granularity): each
    * consecutive analysis-window pair contributes one fingerprint
    * `peak_w · 1001 + peak_{w+1}` (stub peaks are 0..1000, so the code
    * is injective per pair; a real decoder swaps the window peak for a
    * spectrogram (freq, Δt) landmark and nothing downstream changes);
    * docs sharing a high fraction of DISTINCT fingerprints vs the
    * SMALLER doc's set (containment — a clip inside a longer recording
    * scores 1.0) surface as pairs. Planted payload copies share every
    * fingerprint — the mm_dedup/mm_phash planted-truth posture.
    *
    * Scale shape: windows come off the batched decode pass; the
    * fingerprint pairing is one doc-keyed lead() window (bounded at
    * ≤ n_windows rows per doc); the inverted index is df-capped
    * (2..maxRefDf) exactly like the frame/n-gram chains so no posting
    * list explodes; every shuffle carries (fp, id), never payloads.
    *
    * Output: id_a, id_b, n_shared, overlap.
    */
  def audioDupPairs(spark: SparkSession, docs: DataFrame,
                    maxRefDf: Int = 16): DataFrame = {
    val wOrd = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("win_idx"))
    // the distinct fingerprints keep the lead window's doc-keyed
    // partitioning, so the per-doc count window adds no exchange
    val fp = audioFeatures(spark, docs).toDF()
      .withColumn("__np", lead(col("peak"), 1).over(wOrd))
      .where(col("__np").isNotNull)
      .select(col("doc_id").as("id"),
        (col("peak") * lit(1001L) + col("__np")).as("fp"))
      .distinct()
      .withColumn("n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id"))))
    overlapPairs(Dedup.postingPairs(fp, "fp", Some(maxRefDf)))
  }

  /** One sampled frame carrying a CONTENT signature that persists
    * across a scene: the stub derives a per-video scene length (1..3
    * frames) from the payload fingerprint and keys the signature on
    * `frame_idx / scene_len`, so consecutive frames inside a scene
    * share a signature and the signature jumps at scene boundaries —
    * the structure a real perceptual frame hash exhibits (near-equal
    * within a shot, far across cuts). A real decoder replaces the
    * signature with a frame phash and the cut test with
    * hamming > threshold; nothing downstream changes.
    */
  final case class SceneFrame(doc_id: Long, n_frames: Long, frame_idx: Long,
                              scene_sig: Long)

  def sceneFrames(spark: SparkSession, docs: DataFrame,
                  everyKth: Int = 2): Dataset[SceneFrame] = {
    import spark.implicits._
    val step = everyKth.toLong
    withPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = graft.functions.HashImpl.polyHash(
            org.apache.spark.unsafe.types.UTF8String.fromBytes(r.payload))
          val nFrames = 1L + h % 8L
          val sceneLen = 1L + (h / 8L) % 3L
          (0L until nFrames by step).iterator.map { i =>
            SceneFrame(r.doc_id, nFrames, i,
              (h * TextOps.HashMul + i / sceneLen) % TextOps.HashMod)
          }
        }
      }
  }

  /** Scene-cut detection over the sampled keyframes: a cut is flagged
    * where consecutive sampled frames' content signatures differ, and
    * `scene_id` numbers the resulting shots per video (running count
    * of cuts — gaps-and-islands). This is the shot-segmentation step a
    * video curation pipeline runs between frame sampling and per-shot
    * feature extraction (dedup within a shot is redundant; sampling
    * one keyframe PER SHOT is the standard reduction).
    *
    * Scale shape: the decode pass emits (doc, idx, sig) scan-side; the
    * only shuffle is the per-video window partition — bounded at ≤
    * n_frames/everyKth rows per video no matter the corpus size, so no
    * partition ever exceeds one video's sampled frames.
    *
    * Output: doc_id, frame_idx, scene_sig, is_cut, scene_id.
    */
  def sceneCuts(spark: SparkSession, docs: DataFrame,
                everyKth: Int = 2): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    sceneFrames(spark, docs, everyKth).toDF()
      .withColumn("__prev", lag(col("scene_sig"), 1).over(w))
      .withColumn("is_cut",
        col("__prev").isNotNull && col("__prev") =!= col("scene_sig"))
      .withColumn("scene_id",
        sum(when(col("is_cut"), 1L).otherwise(0L)).over(w).cast("long"))
      .select("doc_id", "frame_idx", "scene_sig", "is_cut", "scene_id")
  }

  def sampleFrames(spark: SparkSession, docs: DataFrame,
                   everyKth: Int = 2): Dataset[MediaFrame] = {
    import spark.implicits._
    val step = everyKth.toLong
    withPayload(docs)
      .select(col("doc_id"), col("payload"))
      .as[MediaRow]
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = graft.functions.HashImpl.polyHash(
            org.apache.spark.unsafe.types.UTF8String.fromBytes(r.payload))
          val nFrames = 1L + h % 8L
          (0L until nFrames by step).iterator.map { i =>
            MediaFrame(r.doc_id, nFrames, i,
              (h * TextOps.HashMul + i) % TextOps.HashMod)
          }
        }
      }
  }
}
