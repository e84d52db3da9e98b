package graft.queries

import graft.Q
import graft.Sql._
import graft.ops.{AnnIndex, Checkpoints, IvfIndex, Multimodal}
import org.apache.spark.sql.functions._

/** Extension operators built on imperative per-partition code rather
  * than Column expressions: the LSH ANN scale path (rows-only check —
  * ExtensionsSpec proves recall against the exact q25 baseline) and the
  * multimodal decode pipeline (full DuckDB oracle: the stub decoder is
  * deliberately md5-derived so the mapPartitions output is
  * SQL-reproducible).
  */
object Extensions {

  private def oracleQ34: Option[String] =
    Some {
      val fs = (0 until 8).map(d =>
        s"CAST(xor(h, ${97531L * (d + 1)}) % 1000 AS DOUBLE)/1000.0 AS f$d")
        .mkString(",\n          ")
      s"""
        WITH h AS (
          SELECT doc_id,
            CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS h
          FROM documents)
        SELECT doc_id, n_bytes, 'text/plain' AS mime,
          16 + h % 1024 AS width,
          16 + (h >> 10) % 1024 AS height,
          1 + n_bytes // 256 AS n_frames,
          $fs
        FROM h"""
    }

  val all: Seq[Q] = Seq(
    // LSH-bucketed ANN (scale path of q25): sign-random-projection
    // buckets + multiprobe + codegen'd exact re-rank.
    Q(
      "q33_ann_lsh",
      (s, dir) => {
        import s.implicits._
        val e = table(s, dir, "embeddings")
        AnnIndex.topK(
          s,
          e.select($"vec_id", $"embedding"),
          e.filter($"vec_id" < 5).select($"vec_id", $"embedding"),
          k = 10)
      },
      None),

    // Multimodal feature extraction: binary media column → typed
    // metadata + fixed-size feature vector via per-partition decode
    // (mapPartitions, one digest in flight — see graft.ops.Multimodal).
    // The oracle replays the md5-derived stub in SQL: h = first 15 md5
    // hex digits as a 60-bit non-negative BIGINT, f_d = ((h XOR
    // 97531*(d+1)) % 1000)/1000.0 — every op is exact integer math plus
    // one shared double division, so values hash-match bit-for-bit.
    Q(
      "q34_multimodal_features",
      (s, dir) => {
        import s.implicits._
        val media = table(s, dir, "documents").select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("text/plain").as("mime_hint"))
        Multimodal.extractFeatures(media).toDF()
      },
      oracleQ34),

    // Frame sampling (the multimodal stub's video path): every 2nd
    // 256-byte chunk stands in for a keyframe; per-partition flatMap,
    // one blob in flight. The oracle replays the chunk arithmetic with
    // a constant-range generate_series (DuckDB 1.0 can't take lateral
    // args there) + WHERE.
    Q(
      "q56_frame_sample",
      (s, dir) => {
        import s.implicits._
        val media = table(s, dir, "documents").select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("video/fake").as("mime_hint"))
        Multimodal.sampleFrames(media, stride = 2)
      },
      Some("""
        WITH m AS (
          SELECT doc_id,
            CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n,
            greatest(CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) // 256, 1) AS nf
          FROM documents)
        SELECT doc_id,
          CAST((s.i - 1) * 2 AS BIGINT) AS frame_no,
          CAST(least(256, n) AS BIGINT) AS frame_bytes
        FROM m CROSS JOIN generate_series(1, 4096) s(i)
        WHERE (s.i - 1) * 2 < nf""")),

    // Resize planning over the decoded dimensions (the multimodal
    // stub's image path): box-fit into 256 preserving aspect, no
    // upscale, pure integer math — the oracle replays the q34 h
    // derivation plus the same div arithmetic.
    Q(
      "q59_multimodal_resize",
      (s, dir) => {
        import s.implicits._
        val media = table(s, dir, "documents").select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("image/fake").as("mime_hint"))
        Multimodal.resizePlan(Multimodal.extractFeatures(media).toDF(), 256)
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS h
          FROM documents),
        dims AS (
          SELECT doc_id, 16 + h % 1024 AS width, 16 + (h >> 10) % 1024 AS height
          FROM h),
        rs AS (
          SELECT doc_id, width, height,
            CASE WHEN greatest(width, height) <= 256 THEN width
                 ELSE greatest(1, width * 256 // greatest(width, height)) END AS out_w,
            CASE WHEN greatest(width, height) <= 256 THEN height
                 ELSE greatest(1, height * 256 // greatest(width, height)) END AS out_h
          FROM dims)
        SELECT doc_id, width, height, out_w, out_h,
          out_w * out_h AS n_px_out,
          least(out_w, out_h) < least(width, height) AS downscaled
        FROM rs""")),

    // The typed-Aggregator UDAF surface (SURVEY.md §2.11) on the query
    // path: per-document MinHash signatures folded by
    // graft.functions.MinHashAgg — same hash60 family as q21's native
    // expression, so the oracle is the q21 sig CTE pivoted to columns.
    // The Aggregator gets partial aggregation for free: k longs of
    // state per doc regardless of shingle count (signature columns,
    // not the ARRAY, because the driver compare requires scalars).
    Q(
      "q66_minhash_udaf",
      (s, dir) => {
        import s.implicits._
        val t = Llm.docPrefix(Llm.docsSpread(s, dir), 5)
        val sh = t.select($"doc_id",
          explode(expr(s"array_distinct(${Llm.shingleGen(5)})")).as("g"))
        val mh = udaf(new graft.functions.MinHashAgg(8),
          org.apache.spark.sql.Encoders.STRING)
        sh.groupBy($"doc_id").agg(mh($"g").as("hs"))
          .select($"doc_id" +: (1 to 8).map(j => $"hs".getItem(j - 1).as(s"mh$j")): _*)
      },
      Some {
        val cols = (1 to 8)
          .map(j => s"max(CASE WHEN j = $j THEN mh END) AS mh$j")
          .mkString(",\n          ")
        s"""
        WITH sh AS (
          SELECT DISTINCT doc_id, substr(substr(text,1,200), s.i, 5) AS g
          FROM documents CROSS JOIN generate_series(1, 196) s(i)
          WHERE s.i <= length(substr(text,1,200)) - 4),
        sig AS (
          SELECT doc_id, h.j,
            min(CAST(CAST(concat('0x', substr(md5(CAST(h.j AS VARCHAR) || '|' || g), 1, 15)) AS UBIGINT) AS BIGINT)) AS mh
          FROM sh CROSS JOIN generate_series(1, 8) h(j)
          GROUP BY doc_id, h.j)
        SELECT doc_id,
          $cols
        FROM sig GROUP BY doc_id"""
      }),

    // --------------------------------------------------------------- q114
    // Grouped top-k via a BOUNDED typed Aggregator — the scale form of
    // q75's window idiom, proven row-identical to it by sharing q75's
    // oracle SQL verbatim: `row_number() OVER (PARTITION BY lang
    // ORDER BY n DESC, tok ASC) <= 20` sorts every group in full and
    // ships every group row through the shuffle; graft.functions.
    // TopKAgg keeps ≤ k (n, tok) pairs of state per group, partial-
    // aggregates map-side (each task contributes ≤ k rows per group),
    // and merges bounded lists — at 100 TB the shuffle carries
    // k·partitions rows per group instead of the group. The strict
    // (n desc, tok asc) total order makes the heap's output exactly
    // the window's.
    Q(
      "q114_grouped_topk_agg",
      (s, dir) => {
        import s.implicits._
        val counts = Llm.docsSpread(s, dir)
          .select($"lang", explode(split(lower($"text"), "[^a-z]+")).as("tok"))
          .filter($"tok" =!= "")
          .groupBy($"lang", $"tok").agg(count(lit(1)).cast("long").as("n"))
        val topk = udaf(new graft.functions.TopKAgg(20),
          org.apache.spark.sql.Encoders.product[(String, Long)])
        counts.groupBy($"lang").agg(topk($"tok", $"n").as("tk"))
          .select($"lang", posexplode($"tk"))
          .select($"lang", $"col._2".as("tok"), $"col._1".as("n"),
            ($"pos" + 1).cast("long").as("rk"))
      },
      Some("""
        WITH toks AS (
          SELECT lang, unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z]+'), x -> x <> '')) AS tok
          FROM documents),
        c AS (
          SELECT lang, tok, CAST(count(*) AS BIGINT) AS n
          FROM toks GROUP BY lang, tok),
        r AS (
          SELECT lang, tok, n,
            CAST(row_number() OVER (PARTITION BY lang ORDER BY n DESC, tok ASC) AS BIGINT) AS rk
          FROM c)
        SELECT lang, tok, n, rk FROM r WHERE rk <= 20""")),

    // The multimodal AUDIO path (stub decode, real plumbing — same
    // pattern as q34's image features / q56's frames): waveform stats
    // derived deterministically from the blob, replayed exactly by the
    // oracle. Completes the image/audio/video trio.
    Q(
      "q76_audio_stats",
      (s, dir) => {
        import s.implicits._
        val media = table(s, dir, "documents").select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("audio/fake").as("mime_hint"))
        Multimodal.audioStats(media).toDF()
      },
      Some("""
        WITH h AS (
          SELECT doc_id,
            CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS h
          FROM documents)
        SELECT doc_id, n_bytes,
          8000 * (1 + h % 5) AS sample_rate,
          n_bytes * 16 AS n_samples,
          CAST(n_bytes * 16 AS DOUBLE) / (8000 * (1 + h % 5)) AS duration_s,
          CAST((h >> 20) % 1000 AS DOUBLE) / 1000.0 AS rms
        FROM h""")),

    // IVF-Flat ANN (the trained-quantizer scale path, complementing
    // q33's training-free sign-LSH): deterministic k-means coarse
    // cells, nprobe-cell candidate generation, exact cosine re-rank.
    // Rows-only like q33 — the quantizer is not SQL-expressible;
    // ExtensionsSpec checks recall against the exact q25 baseline.
    Q(
      "q52_ann_ivf",
      (s, dir) => {
        import s.implicits._
        val e = table(s, dir, "embeddings")
        IvfIndex.topK(
          s,
          e.select($"vec_id", $"embedding"),
          e.filter($"vec_id" < 5).select($"vec_id", $"embedding"),
          k = 10)
      },
      None),

    // --------------------------------------------------------------- q195
    // IMAGE perceptual-hash near-dup pairs — q38's hamming-band
    // machinery pointed at rasters: Multimodal.imagePhash gives every
    // media blob a 60-bit dHash (REAL block-mean-comparison bits for
    // decodable PNG/GIF/BMP, the md5 stub otherwise — see the op's
    // scaladoc for why 60 bits), six 10-bit bands pigeonhole
    // hamming ≤ 5 (any such pair agrees on ≥ 1 band — six bands must
    // cover EVERY bit for the guarantee), ops.Lsh.simhashCandidates
    // sub-bands hot buckets exactly (6 sub-bands × 9 bits cover the
    // remaining 50 bits ⇒ the hot path preserves hamming ≤ 5), and
    // candidates verify by exact popcount. On this synthetic corpus
    // every blob takes the stub route, so the WHOLE pipeline — hash,
    // banding, pigeonhole, popcount — is DuckDB-replayed and
    // hash-checked. The corpus view PLANTS deterministic duplicate
    // blobs (every doc_id % 25 == 0 blob re-appears as −doc_id − 1 —
    // the q112 deterministic-view convention, replayed by the oracle;
    // NEGATIVE clone ids can never collide with a real doc_id at any
    // corpus size, where an additive offset would once the corpus
    // outgrew it) so the pair path is non-vacuous at EVERY scale:
    // without the
    // planting the output is empty wherever the corpus has no
    // byte-identical blobs (two 60-bit md5 draws land within hamming 5
    // with p ≈ 5·10⁻¹²). ImagePhashSpec plants REAL raster transforms
    // (resize, brightness shift, PNG re-encode) and pins that the
    // banded path finds them ≡ brute-force popcount while distinct
    // images stay apart. Scale shape = q38's: candidates from
    // equality joins on band keys, never pairwise popcounts.
    Q(
      "q195_image_phash_dup",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        val planted = docs.filter($"doc_id" % 25 === 0)
          .select((-$"doc_id" - 1L).as("doc_id"), $"text")
        val media = docs.unionByName(planted).select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("image/fake").as("mime_hint"))
        graft.ops.Lsh.simhashCandidates(
            Multimodal.phashBands(Multimodal.imagePhash(media)),
            bandBits = Multimodal.PhashBandBits,
            subBands = Multimodal.PhashSubBands,
            subBits = Multimodal.PhashSubBits, maxBucket = 256)
          .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
          .filter($"hamming" <= 5)
          .select($"d1", $"d2", $"hamming")
      },
      Some("""
        WITH corp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1, text FROM documents WHERE doc_id % 25 = 0),
        ph AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS phash
          FROM corp),
        bands AS (
          SELECT doc_id, phash, b.b, (phash >> (b.b * 10)) & 1023 AS band
          FROM ph CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                 x.phash AS p1, y.phash AS p2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.band = y.band AND x.doc_id < y.doc_id)
        SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(p1, p2)) <= 5""")),

    // --------------------------------------------------------------- q196
    // INCREMENTAL image near-dup — q195 in the daily-drop posture
    // (q74's role for rasters, completing the image family's
    // batch/incremental symmetry): the corpus persists its phash
    // frame once (1 row/blob), each new batch hashes only ITS blobs
    // and probes via ops.Lsh.incrementalSimhashCandidates — the
    // cross-set form of q38/q195's EXACT sub-banding. Exactness, not
    // the text family's hot-bucket cap, deliberately: coarse hamming
    // bands have only 2^10 buckets per band, so EVERY bucket goes hot
    // once the corpus outgrows ~256 × 1024 rows per band and a capped
    // probe would silently stop matching anything (a hot minhash
    // bucket is degenerate boilerplate; a hot hamming bucket is just
    // a big corpus) — sub-banding keeps hamming ≤ 5 guaranteed at ANY
    // corpus size, which also makes the oracle the simple UNCAPPED
    // cross join (provably identical output, q38's oracle discipline).
    // The batch is the planted clone view (every doc_id % 25 == 0
    // blob arriving as −doc_id − 1): clones land at hamming 0 against
    // their originals at every scale, and on corpora with natural
    // byte-identical blobs the clone also finds its original's
    // exact-dup partners. Scale shape: the corpus side restricts
    // scan-side to the batch's band keys (broadcast semi-join) before
    // anything shuffles; candidates come from sub-band equality
    // joins, never pairwise popcounts.
    Q(
      "q196_image_dup_incremental",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        def ph(d: org.apache.spark.sql.DataFrame) =
          Multimodal.imagePhash(d.select(
            $"doc_id", encode($"text", "UTF-8").as("media"),
            lit("image/fake").as("mime_hint")))
        val corpusPh = Checkpoints.local(ph(docs))
        val batchPh = Checkpoints.local(ph(docs.filter($"doc_id" % 25 === 0)
          .select((-$"doc_id" - 1L).as("doc_id"), $"text")))
        graft.ops.Lsh.incrementalSimhashCandidates(
            corpusPh.select($"doc_id", $"phash".as("simhash")),
            batchPh.select($"doc_id", $"phash".as("simhash")),
            numBands = Multimodal.PhashNumBands,
            bandBits = Multimodal.PhashBandBits,
            subBands = Multimodal.PhashSubBands,
            subBits = Multimodal.PhashSubBits, maxBucket = 256)
          .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
          .filter($"hamming" <= 5)
          .select($"corpus_doc", $"batch_doc", $"hamming")
      },
      Some("""
        WITH cph AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS phash
          FROM documents),
        bph AS (
          SELECT -doc_id - 1 AS doc_id, CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS phash
          FROM documents WHERE doc_id % 25 = 0),
        cb AS (
          SELECT doc_id, phash, b.b AS band, (phash >> (b.b * 10)) & 1023 AS bsig
          FROM cph CROSS JOIN generate_series(0, 5) b(b)),
        bb AS (
          SELECT doc_id, phash, b.b AS band, (phash >> (b.b * 10)) & 1023 AS bsig
          FROM bph CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT cb.doc_id AS corpus_doc, bb.doc_id AS batch_doc,
            cb.phash AS p1, bb.phash AS p2
          FROM cb JOIN bb ON cb.band = bb.band AND cb.bsig = bb.bsig
          WHERE cb.doc_id <> bb.doc_id)
        SELECT corpus_doc, batch_doc,
          CAST(bit_count(xor(p1, p2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(p1, p2)) <= 5""")),

    // --------------------------------------------------------------- q198
    // AUDIO near-dup pairs — the waveform leg of the multimodal dedup
    // family (images: q195/q196; this: Multimodal.audioFingerprint's
    // 60-bit energy-difference hash — REAL adjacent-frame
    // mean-|amplitude| comparisons for RIFF/WAVE 16-bit PCM, md5 stub
    // otherwise). Identical banding geometry to q195 (six 10-bit
    // bands pigeonhole hamming ≤ 5; hot buckets sub-band EXACTLY), so
    // phashBands/simhashCandidates are reused verbatim — the hash is
    // the only modality-specific piece, which is the point of the
    // 60-bit convention. On this synthetic corpus every blob stubs
    // out, so hash → bands → pigeonhole → popcount is DuckDB-replayed
    // end-to-end; AudioFingerprintSpec plants REAL waveform
    // transforms (volume scale, resample-decimation, metadata
    // re-encode) and pins banded ≡ brute-force. The corpus view
    // plants deterministic clone blobs (every doc_id % 20 == 0 blob
    // re-appears as −doc_id − 1, the q195 convention at a different
    // modulus) so the pair path is non-vacuous at every scale.
    Q(
      "q198_audio_fingerprint_dup",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        val planted = docs.filter($"doc_id" % 20 === 0)
          .select((-$"doc_id" - 1L).as("doc_id"), $"text")
        val media = docs.unionByName(planted).select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("audio/fake").as("mime_hint"))
        graft.ops.Lsh.simhashCandidates(
            Multimodal.phashBands(
              Multimodal.audioFingerprint(media)
                .select($"doc_id", $"ahash".as("phash"))),
            bandBits = Multimodal.PhashBandBits,
            subBands = Multimodal.PhashSubBands,
            subBits = Multimodal.PhashSubBits, maxBucket = 256)
          .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
          .filter($"hamming" <= 5)
          .select($"d1", $"d2", $"hamming")
      },
      Some("""
        WITH corp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1, text FROM documents WHERE doc_id % 20 = 0),
        ah AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS ahash
          FROM corp),
        bands AS (
          SELECT doc_id, ahash, b.b, (ahash >> (b.b * 10)) & 1023 AS band
          FROM ah CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                 x.ahash AS a1, y.ahash AS a2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.band = y.band AND x.doc_id < y.doc_id)
        SELECT d1, d2, CAST(bit_count(xor(a1, a2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(a1, a2)) <= 5""")),

    // --------------------------------------------------------------- q199
    // VIDEO near-dup pairs — the sequence leg of the multimodal dedup
    // family: Multimodal.videoFrameHashes reduces every video to a
    // per-frame 60-bit hash stream (REAL per-frame dHash for animated
    // GIF; each 64-byte chunk md5-stubbed otherwise — the q56 frame
    // convention), each video becomes its DISTINCT frame-hash SET,
    // and near-dups are set pairs at Jaccard ≥ 4/5 through the EXACT
    // PPJoin core (Llm.setSimJoinSets — q161/q187's engine, now on
    // LONG elements; prefix/size/positional gates all stay rational,
    // so no float threshold drift). Content-based and order-free by
    // design: a re-cut that reorders or drops a scene still pairs —
    // temporal alignment is a verify-stage concern. VideoDupSpec
    // plants REAL animated-GIF transforms (re-encode, frame drop,
    // frame reorder) and a brute-force Jaccard replica. The corpus
    // view plants deterministic tail-truncated clones (doc_id % 15 ==
    // 0 with ≥ 5 chunks re-appears as −doc_id − 1 minus its last
    // chunk: Jaccard (nf−1)/nf = 0.8 lands exactly ON the ≥ 4/5
    // gate, exercising the boundary; byte-identical docs pair at 1).
    //
    // Scale shape: frame hashes are 16 bytes/frame — raw media never
    // shuffles; the PPJoin core shuffles the hash stream once for df
    // counts, once for prefix ranks (per-video windows, bounded by
    // frames-per-video), and candidates come from prefix-element
    // equality joins, never all-pairs.
    Q(
      "q199_video_seq_dup",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        val planted = docs
          .filter($"doc_id" % 15 === 0 && length($"text") >= 64 * 5)
          .select((-$"doc_id" - 1L).as("doc_id"),
            expr("substring(text, 1, (length(text) div 64 - 1) * 64)").as("text"))
        val media = docs.unionByName(planted).select(
          $"doc_id",
          encode($"text", "UTF-8").as("media"),
          lit("video/fake").as("mime_hint"))
        val sets = Multimodal.videoFrameHashes(media, chunkBytes = 64)
          .groupBy($"doc_id")
          .agg(array_distinct(collect_list($"fhash")).as("gs"))
        graft.queries.Llm.setSimJoinSets(sets, p = 4, q = 5)
      },
      Some("""
        WITH corp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1, substr(text, 1, (length(text) // 64 - 1) * 64)
          FROM documents WHERE doc_id % 15 = 0 AND length(text) >= 320),
        ch AS (
          SELECT doc_id,
            CAST(CAST(concat('0x',
              substr(md5(substr(text, s.i * 64 + 1, 64)), 1, 15)) AS UBIGINT) AS BIGINT) AS fh
          FROM corp CROSS JOIN generate_series(0, 4095) s(i)
          -- loud-failure bound guard (the q137 toks convention)
          WHERE s.i < greatest(
            CASE WHEN length(text) > 262144
                 THEN error('oracle chunk bound 4096 exceeded — raise the series bound')
                 ELSE length(text) END // 64, 1)),
        df AS (SELECT DISTINCT doc_id, fh FROM ch),
        sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM df GROUP BY doc_id),
        inter AS (
          SELECT x.doc_id AS d1, y.doc_id AS d2, CAST(count(*) AS BIGINT) AS n_inter
          FROM df x JOIN df y ON x.fh = y.fh AND x.doc_id < y.doc_id
          GROUP BY x.doc_id, y.doc_id)
        SELECT i.d1, i.d2, i.n_inter, a.n AS n_a, b.n AS n_b,
          CAST(i.n_inter AS DOUBLE) / (a.n + b.n - i.n_inter) AS jac
        FROM inter i JOIN sz a ON i.d1 = a.doc_id JOIN sz b ON i.d2 = b.doc_id
        WHERE i.n_inter * 9 >= (a.n + b.n) * 4""")),

    // --------------------------------------------------------------- q201
    // INCREMENTAL audio near-dup — q198 in the daily-drop posture
    // (q196's role for waveforms): the corpus persists one ahash row
    // per blob, each new batch hashes only ITS blobs and probes via
    // ops.Lsh.incrementalSimhashCandidates — the same EXACT cross-set
    // sub-banding as q196, for the same reason (coarse hamming bands
    // go uniformly hot at corpus scale; a capped probe would silently
    // stop matching, and exactness also keeps the oracle the simple
    // uncapped cross join). The batch is the q198 planted-clone view
    // (every doc_id % 20 == 0 blob arriving as −doc_id − 1): clones
    // land at hamming 0 against their originals at every scale.
    Q(
      "q201_audio_dup_incremental",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        def ah(d: org.apache.spark.sql.DataFrame) =
          Multimodal.audioFingerprint(d.select(
            $"doc_id", encode($"text", "UTF-8").as("media"),
            lit("audio/fake").as("mime_hint")))
        val corpusAh = Checkpoints.local(ah(docs))
        val batchAh = Checkpoints.local(ah(docs.filter($"doc_id" % 20 === 0)
          .select((-$"doc_id" - 1L).as("doc_id"), $"text")))
        graft.ops.Lsh.incrementalSimhashCandidates(
            corpusAh.select($"doc_id", $"ahash".as("simhash")),
            batchAh.select($"doc_id", $"ahash".as("simhash")),
            numBands = Multimodal.PhashNumBands,
            bandBits = Multimodal.PhashBandBits,
            subBands = Multimodal.PhashSubBands,
            subBits = Multimodal.PhashSubBits, maxBucket = 256)
          .withColumn("hamming", expr("CAST(bit_count(s1 ^ s2) AS BIGINT)"))
          .filter($"hamming" <= 5)
          .select($"corpus_doc", $"batch_doc", $"hamming")
      },
      Some("""
        WITH cah AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS ahash
          FROM documents),
        bah AS (
          SELECT -doc_id - 1 AS doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS ahash
          FROM documents WHERE doc_id % 20 = 0),
        cb AS (
          SELECT doc_id, ahash, b.b AS band, (ahash >> (b.b * 10)) & 1023 AS bsig
          FROM cah CROSS JOIN generate_series(0, 5) b(b)),
        bb AS (
          SELECT doc_id, ahash, b.b AS band, (ahash >> (b.b * 10)) & 1023 AS bsig
          FROM bah CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT cb.doc_id AS corpus_doc, bb.doc_id AS batch_doc,
            cb.ahash AS a1, bb.ahash AS a2
          FROM cb JOIN bb ON cb.band = bb.band AND cb.bsig = bb.bsig
          WHERE cb.doc_id <> bb.doc_id)
        SELECT corpus_doc, batch_doc,
          CAST(bit_count(xor(a1, a2)) AS BIGINT) AS hamming
        FROM cand WHERE bit_count(xor(a1, a2)) <= 5""")),

    // --------------------------------------------------------------- q202
    // INCREMENTAL video near-dup — q199 in the daily-drop posture,
    // completing the video leg's batch/incremental symmetry: the
    // corpus persists one DISTINCT frame-hash set per video (with its
    // cardinality sidecar), each new batch reduces only ITS blobs and
    // probes via Llm.setSimProbe — the CROSS-SET exact form of the
    // PPJoin core. No prefix filter, deliberately: the probe is
    // batch-bounded (corpus element stream restricted scan-side to
    // the batch's distinct frame hashes via a broadcast semi-join
    // BEFORE anything shuffles — incrementalSimhashCandidates'
    // discipline on the set domain), so the self-join's prefix
    // machinery would prune nothing the semi-join hasn't already.
    // Exactness keeps the oracle the simple uncapped cross join. The
    // batch is q199's tail-truncated clone view (doc_id % 15 == 0
    // with ≥ 5 chunks, minus its last chunk): clones land exactly ON
    // the ≥ 4/5 gate against their originals at every scale.
    Q(
      "q202_video_dup_incremental",
      (s, dir) => {
        import s.implicits._
        val docs = table(s, dir, "documents").select($"doc_id", $"text")
        def sets(d: org.apache.spark.sql.DataFrame) =
          Multimodal.videoFrameHashes(
              d.select($"doc_id", encode($"text", "UTF-8").as("media"),
                lit("video/fake").as("mime_hint")), chunkBytes = 64)
            .groupBy($"doc_id")
            .agg(array_distinct(collect_list($"fhash")).as("gs"))
        val corpus = sets(docs)
        val batch = sets(docs
          .filter($"doc_id" % 15 === 0 && length($"text") >= 64 * 5)
          .select((-$"doc_id" - 1L).as("doc_id"),
            expr("substring(text, 1, (length(text) div 64 - 1) * 64)").as("text")))
        graft.queries.Llm.setSimProbe(corpus, batch, p = 4, q = 5)
      },
      Some("""
        WITH ch AS (
          SELECT doc_id,
            CAST(CAST(concat('0x',
              substr(md5(substr(text, s.i * 64 + 1, 64)), 1, 15)) AS UBIGINT) AS BIGINT) AS fh
          FROM documents CROSS JOIN generate_series(0, 4095) s(i)
          WHERE s.i < greatest(
            CASE WHEN length(text) > 262144
                 THEN error('oracle chunk bound 4096 exceeded — raise the series bound')
                 ELSE length(text) END // 64, 1)),
        bt AS (
          SELECT -doc_id - 1 AS doc_id,
            substr(text, 1, (length(text) // 64 - 1) * 64) AS text
          FROM documents WHERE doc_id % 15 = 0 AND length(text) >= 320),
        bch AS (
          SELECT doc_id,
            CAST(CAST(concat('0x',
              substr(md5(substr(text, s.i * 64 + 1, 64)), 1, 15)) AS UBIGINT) AS BIGINT) AS fh
          FROM bt CROSS JOIN generate_series(0, 4095) s(i)
          WHERE s.i < greatest(length(text) // 64, 1)),
        cdf AS (SELECT DISTINCT doc_id, fh FROM ch),
        bdf AS (SELECT DISTINCT doc_id, fh FROM bch),
        csz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM cdf GROUP BY doc_id),
        bsz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM bdf GROUP BY doc_id),
        inter AS (
          SELECT c.doc_id AS corpus_doc, b.doc_id AS batch_doc,
            CAST(count(*) AS BIGINT) AS n_inter
          FROM cdf c JOIN bdf b ON c.fh = b.fh AND c.doc_id <> b.doc_id
          GROUP BY c.doc_id, b.doc_id)
        SELECT i.corpus_doc, i.batch_doc, i.n_inter,
          a.n AS n_a, b.n AS n_b,
          CAST(i.n_inter AS DOUBLE) / (a.n + b.n - i.n_inter) AS jac
        FROM inter i
          JOIN csz a ON i.corpus_doc = a.doc_id
          JOIN bsz b ON i.batch_doc = b.doc_id
        WHERE i.n_inter * 9 >= (a.n + b.n) * 4""")),

    // --------------------------------------------------------------- q204
    // MEDIA DEDUP APPLY — the q85 step for rasters, closing the image
    // family's measure→apply gap: q195's near-dup pair graph flows
    // through ops.ConnectedComponents (hash-min labels — cluster_id =
    // min reachable doc_id), the min member of each cluster is kept
    // canonical, and the output is the per-blob verdict frame (canon,
    // kept bit, cluster size) a curation pipeline anti-joins the
    // media corpus with. On the planted-clone view the NEGATIVE clone
    // id is the minimum, so the clone is what canonical-keep retains —
    // deterministic, and exactly what min-id keep means (q85's same
    // property under re-ids; quality-aware keep is q168's refinement).
    //
    // Scale shape: pairs are q195's (band-key equality joins, never
    // pairwise popcounts); CC labels are broadcast-sized (dup
    // clusters, not the corpus); the verdict is one left join from
    // the blob id frame — media bytes appear nowhere.
    Q(
      "q204_media_dedup_apply",
      (s, dir) => {
        import s.implicits._
        val pairs = Checkpoints.local(all.find(_.name == "q195_image_phash_dup").get
          .run(s, dir).select($"d1", $"d2"))
        val labels = graft.ops.ConnectedComponents.auto(pairs)
        Checkpoints.release(pairs)
        val sizes = labels.groupBy($"cluster_id")
          .agg(count(lit(1)).cast("long").as("n_members"))
        val docs = table(s, dir, "documents").select($"doc_id")
        val planted = docs.filter($"doc_id" % 25 === 0)
          .select((-$"doc_id" - 1L).as("doc_id"))
        docs.unionByName(planted)
          .join(labels.withColumnRenamed("v", "doc_id"), Seq("doc_id"), "left")
          .join(sizes, Seq("cluster_id"), "left")
          .select($"doc_id",
            coalesce($"cluster_id", $"doc_id").as("canon"),
            coalesce($"n_members", lit(1L)).as("n_members"),
            ($"cluster_id".isNull || $"cluster_id" === $"doc_id")
              .cast("long").as("kept"))
      },
      Some(s"""
        WITH RECURSIVE corp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1, text FROM documents WHERE doc_id % 25 = 0),
        ph AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS phash
          FROM corp),
        bands AS (
          SELECT doc_id, phash, b.b, (phash >> (b.b * 10)) & 1023 AS band
          FROM ph CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                 x.phash AS p1, y.phash AS p2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.band = y.band AND x.doc_id < y.doc_id),
        prs AS (
          SELECT d1, d2 FROM cand WHERE bit_count(xor(p1, p2)) <= 5),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM prs
          UNION
          SELECT d2, d1 FROM prs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        lab AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
        sz AS (
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
          FROM lab GROUP BY cluster_id)
        SELECT c.doc_id,
          coalesce(l.cluster_id, c.doc_id) AS canon,
          coalesce(sz.n_members, CAST(1 AS BIGINT)) AS n_members,
          CAST(CASE WHEN l.cluster_id IS NULL OR l.cluster_id = c.doc_id
               THEN 1 ELSE 0 END AS BIGINT) AS kept
        FROM corp c
          LEFT JOIN lab l ON c.doc_id = l.doc_id
          LEFT JOIN sz ON l.cluster_id = sz.cluster_id""")),

    // --------------------------------------------------------------- q207
    // MEDIA SPLIT LEAKAGE — q192's eval-integrity role for rasters:
    // benchmarks leak through NEAR-DUPLICATE images (re-crops,
    // re-encodes, brightness-shifted copies) exactly as text leaks
    // through near-dup documents, and a verbatim-hash check misses
    // every one of them. q195's perceptual pair stream is joined to
    // the SAME split expression training uses (TrainPrep.splitOf BY
    // REFERENCE — the q192 cannot-drift discipline), and the report
    // is every val/test blob with a train-side near-dup partner
    // (hamming ≤ 5), i.e. the eval rows whose scores are
    // contaminated. Output is leak-sized; the heavy lifting is
    // q195's banded pair machinery, reused not recomputed.
    Q(
      "q207_media_split_leakage",
      (s, dir) => {
        import s.implicits._
        val pairs = Checkpoints.local(all.find(_.name == "q195_image_phash_dup").get
          .run(s, dir))
        pairs.select($"d1".as("doc_id"), $"d2".as("partner"), $"hamming")
          .unionAll(pairs.select($"d2".as("doc_id"), $"d1".as("partner"), $"hamming"))
          .withColumn("split", TrainPrep.splitOf($"doc_id"))
          .withColumn("partner_split", TrainPrep.splitOf($"partner"))
          .filter($"split".isin("val", "test") && $"partner_split" === "train")
          .select($"doc_id", $"split", $"partner", $"partner_split", $"hamming")
      },
      Some(s"""
        WITH corp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1, text FROM documents WHERE doc_id % 25 = 0),
        ph AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS phash
          FROM corp),
        bands AS (
          SELECT doc_id, phash, b.b, (phash >> (b.b * 10)) & 1023 AS band
          FROM ph CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                 x.phash AS p1, y.phash AS p2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.band = y.band AND x.doc_id < y.doc_id),
        prs AS (
          SELECT d1, d2, CAST(bit_count(xor(p1, p2)) AS BIGINT) AS hamming
          FROM cand WHERE bit_count(xor(p1, p2)) <= 5),
        sides AS (
          SELECT d1 AS doc_id, d2 AS partner, hamming FROM prs
          UNION ALL
          SELECT d2, d1, hamming FROM prs)
        SELECT doc_id, ${TrainPrep.splitSql("doc_id")} AS split,
          partner, ${TrainPrep.splitSql("partner")} AS partner_split, hamming
        FROM sides
        WHERE ${TrainPrep.splitSql("doc_id")} IN ('val', 'test')
          AND ${TrainPrep.splitSql("partner")} = 'train'""")),

    // --------------------------------------------------------------- q210
    // MEDIA CURATION PIPELINE — q100's end-to-end role for rasters,
    // closing the media loop the way q100 closes the text loop: q195's
    // perceptual pairs → connected components → SPLIT-AWARE canonical
    // keep → per-blob verdict. Split-aware is the part plain dedup
    // (q204) cannot give: a near-dup cluster straddling train and
    // eval keeps its MIN TRAIN member (training retains the content)
    // while every val/test member is EVICTED as leakage
    // ('leak_evicted' — q207's finding, acted on; post-curation the
    // kept corpus has zero train↔eval near-dup pairs BY CONSTRUCTION,
    // since every pair is intra-cluster and each cluster keeps one
    // member). Train-free clusters keep their min member (q204's
    // rule); singletons pass through. One frame out: (doc_id, split,
    // cluster, n_members, canon, status ∈ kept/dup/leak_evicted) —
    // the verdict a media pipeline anti-joins its corpus with. The
    // oracle replays the WHOLE chain as one CTE stack: q195's band
    // SQL, q204's recursive reach, q53's split expression (all BY
    // REFERENCE — the cannot-drift discipline).
    //
    // Scale shape: pairs are banded equality joins (q195); CC labels
    // and the cluster roll-up are DUP-SIZED, not corpus-sized
    // (singletons bypass via the left join's nulls — the q204 shape);
    // the verdict is one left join from the blob id frame. Media
    // bytes appear nowhere past the hash.
    Q(
      "q210_media_curation",
      (s, dir) => {
        import s.implicits._
        val pairs = Checkpoints.local(all.find(_.name == "q195_image_phash_dup").get
          .run(s, dir).select($"d1", $"d2"))
        val labels = graft.ops.ConnectedComponents.auto(pairs)
        Checkpoints.release(pairs)
        val clustered = labels.withColumnRenamed("v", "doc_id")
          .withColumn("msplit", TrainPrep.splitOf($"doc_id"))
        val agg = clustered.groupBy($"cluster_id").agg(
          count(lit(1)).cast("long").as("n_members"),
          max(($"msplit" === "train").cast("long")).as("has_train"),
          min(when($"msplit" === "train", $"doc_id")).as("min_train"))
        val docs = table(s, dir, "documents").select($"doc_id")
        val planted = docs.filter($"doc_id" % 25 === 0)
          .select((-$"doc_id" - 1L).as("doc_id"))
        docs.unionByName(planted)
          .withColumn("split", TrainPrep.splitOf($"doc_id"))
          .join(clustered.select($"doc_id", $"cluster_id"), Seq("doc_id"), "left")
          .join(agg, Seq("cluster_id"), "left")
          .withColumn("cluster", coalesce($"cluster_id", $"doc_id"))
          .withColumn("canon",
            when($"has_train" === 1L, $"min_train").otherwise($"cluster"))
          .select($"doc_id", $"split", $"cluster",
            coalesce($"n_members", lit(1L)).as("n_members"),
            $"canon",
            when($"doc_id" === $"canon", lit("kept"))
              .when($"split".isin("val", "test") && $"has_train" === 1L,
                lit("leak_evicted"))
              .otherwise(lit("dup")).as("status"))
      },
      Some(s"""
        WITH RECURSIVE corp AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT -doc_id - 1, text FROM documents WHERE doc_id % 25 = 0),
        ph AS (
          SELECT doc_id,
            CAST(CAST(concat('0x', substr(md5(text), 1, 15)) AS UBIGINT) AS BIGINT) AS phash
          FROM corp),
        bands AS (
          SELECT doc_id, phash, b.b, (phash >> (b.b * 10)) & 1023 AS band
          FROM ph CROSS JOIN generate_series(0, 5) b(b)),
        cand AS (
          SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2,
                 x.phash AS p1, y.phash AS p2
          FROM bands x JOIN bands y
            ON x.b = y.b AND x.band = y.band AND x.doc_id < y.doc_id),
        prs AS (
          SELECT d1, d2 FROM cand WHERE bit_count(xor(p1, p2)) <= 5),
        edges AS (
          SELECT d1 AS a, d2 AS b FROM prs
          UNION
          SELECT d2, d1 FROM prs),
        reach(v, r) AS (
          SELECT a, a FROM edges
          UNION
          SELECT reach.v, edges.b FROM reach JOIN edges ON reach.r = edges.a),
        lab AS (SELECT v AS doc_id, min(r) AS cluster_id FROM reach GROUP BY v),
        labs AS (
          SELECT doc_id, cluster_id,
            ${TrainPrep.splitSql("doc_id")} AS msplit
          FROM lab),
        agg AS (
          SELECT cluster_id,
            CAST(count(*) AS BIGINT) AS n_members,
            CAST(max(CASE WHEN msplit = 'train' THEN 1 ELSE 0 END) AS BIGINT) AS has_train,
            min(CASE WHEN msplit = 'train' THEN doc_id END) AS min_train
          FROM labs GROUP BY cluster_id),
        base AS (
          SELECT c.doc_id, ${TrainPrep.splitSql("c.doc_id")} AS split,
            l.cluster_id, a.n_members, a.has_train, a.min_train
          FROM corp c
            LEFT JOIN lab l ON c.doc_id = l.doc_id
            LEFT JOIN agg a ON l.cluster_id = a.cluster_id)
        SELECT doc_id, split,
          coalesce(cluster_id, doc_id) AS cluster,
          coalesce(n_members, CAST(1 AS BIGINT)) AS n_members,
          CASE WHEN has_train = 1 THEN min_train
               ELSE coalesce(cluster_id, doc_id) END AS canon,
          CASE WHEN doc_id = (CASE WHEN has_train = 1 THEN min_train
                                   ELSE coalesce(cluster_id, doc_id) END)
                 THEN 'kept'
               WHEN split IN ('val', 'test') AND has_train = 1
                 THEN 'leak_evicted'
               ELSE 'dup' END AS status
        FROM base"""))
  )
}
