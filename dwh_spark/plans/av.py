"""Audio/video pipeline queries (multimodal beyond images).

No media fixtures or codecs exist in the container, so clips are
derived deterministically from the `documents` table — the Spark side
does the real binary work (assemble WAV headers, parse them back,
sniff containers, fan out frames/chunks, run the stub decoder through
``mapInPandas``), while the oracle checks the business outcome through
the same ``doc_id`` arithmetic that generated the fixture. A header
encode/parse bug, a wrong fan-out count, or a digest mismatch all
surface as oracle failures.

Fixture arithmetic (both sides):
- sample_rate = (8000,16000,22050,44100,48000)[doc_id % 5]
- channels    = 1 + doc_id % 2
- n_samples   = n_chars * 100
- n_frames    = n_chars % 240 + 1   (videos)
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_spark.fixtures import hold, scratch_dir
from dwh_spark.multimodal.av import (
    audio_chunks,
    decode_frames,
    deterministic_frame_decoder,
    parse_wav_header,
    sample_frames,
    sniff_media,
    wav_bytes,
)
from dwh_spark.plans.registry import query
from dwh_spark.sources.catalog import load_table

_RATES = (8000, 16000, 22050, 44100, 48000)
_RATE_SQL = (
    "CASE doc_id % 5 "
    + " ".join(f"WHEN {k} THEN {r}" for k, r in enumerate(_RATES))
    + " END"
)


def _audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    rate = F.element_at(
        F.array(*[F.lit(r) for r in _RATES]), (F.col("doc_id") % 5 + 1).cast("int")
    )
    channels = (F.col("doc_id") % 2 + 1).cast("long")
    n_samples = (F.col("n_chars") * 100).cast("long")
    return docs.select(
        "doc_id",
        "source",
        F.concat(
            wav_bytes(rate, channels, n_samples), F.col("text").cast("binary")
        ).alias("content"),
    )


@query(
    "av_wav_roundtrip_stats",
    oracle=f"""
    SELECT ({_RATE_SQL}) AS sample_rate,
           1 + doc_id % 2 AS channels,
           count(*) AS n_clips,
           round(sum((n_chars * 100.0) / ({_RATE_SQL})), 6) AS total_seconds
    FROM documents
    GROUP BY 1, 2
    """,
)
def av_wav_roundtrip_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio metadata extraction: WAV headers are assembled into the
    binary column, then parsed BACK off the bytes (little-endian field
    reads, pure codegen) — the oracle recomputes durations from the
    generator arithmetic, so encode and parse must both be right."""
    audio = _audio(spark, sf_dir)
    meta = audio.select(
        "doc_id",
        sniff_media(F.col("content")).alias("fmt"),
        parse_wav_header(F.col("content")).alias("h"),
    ).filter(F.col("fmt") == "wav")
    return meta.groupBy(
        F.col("h.sample_rate").alias("sample_rate"),
        F.col("h.channels").alias("channels"),
    ).agg(
        F.count("*").alias("n_clips"),
        F.round(
            F.sum(F.col("h.n_samples") * 1.0 / F.col("h.sample_rate")), 6
        ).alias("total_seconds"),
    )


@query(
    "av_audio_chunking",
    oracle=f"""
    SELECT source, count(*) AS n_clips,
           CAST(sum(CAST(ceil((n_chars * 100.0) / (({_RATE_SQL}) * 5)) AS BIGINT))
                AS BIGINT) AS n_chunks
    FROM documents GROUP BY 1
    """,
)
def av_audio_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-second chunk fan-out per clip (explode over sequence, no
    shuffle), rolled up per source; chunk counts check the boundary
    arithmetic including the short final chunk."""
    audio = _audio(spark, sf_dir)
    meta = audio.select(
        "doc_id", "source", parse_wav_header(F.col("content")).alias("h")
    ).select(
        "doc_id", "source",
        F.col("h.sample_rate").alias("sample_rate"),
        F.col("h.n_samples").alias("n_samples"),
    )
    chunks = audio_chunks(meta, chunk_seconds=5)
    return chunks.groupBy("source").agg(
        F.count_distinct("doc_id").alias("n_clips"),
        F.count("*").alias("n_chunks"),
    )


@query(
    "av_video_frame_digests",
    oracle="""
    WITH vids AS (
      SELECT doc_id, n_chars % 240 + 1 AS n_frames FROM documents
    ),
    frames AS (
      SELECT doc_id, unnest(range(0, n_frames, 24)) AS frame_ix FROM vids
    )
    SELECT doc_id % 10 AS bucket,
           count(*) AS n_frames_sampled,
           min(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_ix AS VARCHAR)))
             AS min_digest,
           max(md5(CAST(doc_id AS VARCHAR) || ':' || CAST(frame_ix AS VARCHAR)))
             AS max_digest
    FROM frames GROUP BY 1
    """,
)
def av_video_frame_digests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame sampling (every 24th frame) + the stubbed per-frame
    decoder running through real ``mapInPandas`` Arrow batches; min/max
    digests per bucket pin the decoder's inputs exactly."""
    docs = load_table(spark, sf_dir, "documents")
    vids = docs.select(
        "doc_id", (F.col("n_chars") % 240 + 1).cast("int").alias("n_frames")
    )
    sampled = sample_frames(vids, every=24)
    decoded = decode_frames(sampled, decoder=deterministic_frame_decoder)
    return decoded.groupBy((F.col("doc_id") % 10).alias("bucket")).agg(
        F.count("*").alias("n_frames_sampled"),
        F.min("frame_digest").alias("min_digest"),
        F.max("frame_digest").alias("max_digest"),
    )


@query(
    "av_video_real_frame_stats",
    oracle="""
    SELECT doc_id, frame_ix, 16 AS width, 12 AS height,
           (doc_id * 31 + frame_ix * 17) % 256 AS mean_gray
    FROM documents, UNNEST(range(0, doc_id % 5 + 3, 2)) AS t(frame_ix)
    WHERE doc_id % 10 < 2
    """,
)
def av_video_real_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video frame decode: each doc becomes a genuine
    uncompressed AVI (doc_id%5+3 constant-gray 16x12 frames, gray =
    (doc_id*31 + f*17)%256, multimodal/codecs.avi_encode), frames are
    sampled every 2nd index, and decode_avi_frame_stats walks the RIFF
    movi chunks and decodes actual pixels. The oracle derives dims and
    means from the construction arithmetic alone — encode, container
    walk, frame indexing, and BGR/bottom-up handling all have to be
    right for the hash to match. Compressed codecs remain honestly
    stubbed (ffmpeg_frame_decoder)."""
    from dwh_spark.multimodal.av import decode_avi_frame_stats

    # Deterministic 20% doc subset + 32-way spread — same reasoning as
    # imgs_real_pixel_stats: the container-walk proof doesn't need
    # every document, and the single-row-group fixture would serialize
    # the codec work on one core
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 < 2)
        .repartition(32)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dwh_spark.multimodal import codecs

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 5 + 3
                frames = np.empty((n, 12, 16, 3), np.uint8)
                for f in range(n):
                    frames[f] = (d * 31 + f * 17) % 256
                out.append((d, n, codecs.avi_encode(frames)))
            yield pd.DataFrame(out, columns=["doc_id", "n_frames", "content"])

    vids = docs.mapInPandas(gen, "doc_id long, n_frames long, content binary")
    sampled = sample_frames(vids, every=2)
    return decode_avi_frame_stats(sampled)


@query(
    "av_video_mjpeg_frame_stats",
    oracle="""
    SELECT doc_id, frame_ix, 16 AS width, 12 AS height,
           (doc_id * 29 + frame_ix * 23) % 256 AS mean_gray
    FROM documents, UNNEST(range(0, doc_id % 4 + 2)) AS t(frame_ix)
    WHERE doc_id % 10 = 4
    """,
)
def av_video_mjpeg_frame_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL COMPRESSED video decode — Motion-JPEG: each doc becomes a
    genuine MJPG AVI (biCompression='MJPG', one vendored baseline JPEG
    per '00dc' chunk, codecs.avi_encode_mjpeg), every frame is sampled,
    and avi_decode_frame routes the chunks through the jpeg.py Huffman+
    IDCT path. Constant-GRAY frames at quality=100 round-trip exactly
    (the jpeg.py identity), so the oracle pins per-frame means from the
    construction arithmetic with no codec terms — container walk,
    fourcc dispatch, JPEG entropy decode and color conversion all have
    to be right for the hash to match."""
    from dwh_spark.multimodal.av import decode_avi_frame_stats

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 4)
        .repartition(32)
    )

    def gen(batches):
        import numpy as np
        import pandas as pd

        from dwh_spark.multimodal import codecs

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                n = d % 4 + 2
                frames = np.empty((n, 12, 16, 3), np.uint8)
                for f in range(n):
                    frames[f] = (d * 29 + f * 23) % 256
                out.append((d, n, codecs.avi_encode_mjpeg(frames, quality=100)))
            yield pd.DataFrame(out, columns=["doc_id", "n_frames", "content"])

    vids = docs.mapInPandas(gen, "doc_id long, n_frames long, content binary")
    sampled = sample_frames(vids, every=1)
    return decode_avi_frame_stats(sampled)


@query(
    "av_audio_chunk_energy",
    oracle="""
    WITH docs AS (
      SELECT doc_id, 2000 + (doc_id % 5) * 400 AS n_samples
      FROM documents WHERE doc_id % 10 < 2
    ),
    chunks AS (
      SELECT doc_id, n_samples, c.chunk_ix,
             c.chunk_ix * 1000 AS lo,
             least((c.chunk_ix + 1) * 1000, n_samples) AS hi
      FROM docs, UNNEST(range(0, CAST(ceil(n_samples / 1000.0) AS BIGINT))) AS c(chunk_ix)
    ),
    samples AS (
      SELECT doc_id, chunk_ix, hi - lo AS n_chunk_samples,
             sum(((doc_id * 7 + i * 13) % 2048 - 1024)
                 * ((doc_id * 7 + i * 13) % 2048 - 1024)) AS sq_sum
      FROM chunks, UNNEST(range(lo, hi)) AS t(i)
      GROUP BY 1, 2, 3
    )
    SELECT doc_id, chunk_ix, CAST(n_chunk_samples AS BIGINT) AS n_chunk_samples,
           CAST(floor(sqrt(CAST(sq_sum AS DOUBLE) / n_chunk_samples)) AS BIGINT) AS rms
    FROM samples
    """,
)
def av_audio_chunk_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio feature extraction: deterministic int16 PCM is
    assembled into genuine WAV bytes per doc (mapInPandas), the JVM
    parses the header back (parse_wav_header — a real binary parse,
    not trusted metadata), chunks fan out shuffle-free, and a second
    Arrow stage slices the actual PCM payload and computes per-chunk
    RMS energy with numpy. The oracle re-derives the energy in closed
    form from the construction arithmetic — header assembly, header
    parse, chunk offsets, int16 decode, and the RMS math all have to
    agree. Integer sq-sums are exact; the final division and sqrt are
    correctly-rounded IEEE ops, identical in both engines."""
    import numpy as np  # noqa: F401 (imported in workers below)

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 < 2)
        .repartition(32)
    )

    def gen(batches):
        import struct as _struct

        import numpy as _np
        import pandas as _pd

        def wav(doc_id: int, n: int) -> bytes:
            i = _np.arange(n, dtype=_np.int64)
            pcm = ((doc_id * 7 + i * 13) % 2048 - 1024).astype("<i2").tobytes()
            hdr = (
                b"RIFF" + _struct.pack("<I", 36 + len(pcm)) + b"WAVE"
                + b"fmt " + _struct.pack("<IHHIIHH", 16, 1, 1, 1000, 2000, 2, 16)
                + b"data" + _struct.pack("<I", len(pcm))
            )
            return hdr + pcm

        for pdf in batches:
            rows = [
                (int(d), wav(int(d), 2000 + int(d) % 5 * 400)) for d in pdf["doc_id"]
            ]
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    audio = docs.mapInPandas(gen, "doc_id long, content binary")
    parsed = audio.select(
        "doc_id", "content", parse_wav_header(F.col("content")).alias("hdr")
    ).select(
        "doc_id",
        "content",
        F.col("hdr.sample_rate").alias("sample_rate"),
        F.col("hdr.n_samples").alias("n_samples"),
    )
    chunked = audio_chunks(parsed, chunk_seconds=1)

    def energy(batches):
        import numpy as _np
        import pandas as _pd

        for pdf in batches:
            rows = []
            for d, ix, blob, lo, hi in zip(
                pdf["doc_id"], pdf["chunk_ix"], pdf["content"],
                pdf["chunk_start"], pdf["chunk_end"],
            ):
                pcm = _np.frombuffer(bytes(blob)[44:], dtype="<i2").astype(_np.int64)
                seg = pcm[int(lo) : int(hi)]
                rms = int(_np.floor(_np.sqrt(float((seg * seg).sum()) / len(seg))))
                rows.append((int(d), int(ix), len(seg), rms))
            yield _pd.DataFrame(
                rows, columns=["doc_id", "chunk_ix", "n_chunk_samples", "rms"]
            )

    return chunked.select(
        "doc_id", "chunk_ix", "content", "chunk_start", "chunk_end"
    ).mapInPandas(energy, "doc_id long, chunk_ix long, n_chunk_samples long, rms long")


@query(
    "av_audio_g711_decode_stats",
    oracle="""
    WITH bytes AS (
        SELECT d.doc_id, i,
               (d.doc_id * 7 + i * 13) % 256 AS b
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 6) d
        CROSS JOIN (SELECT unnest(generate_series(0, 799)) AS i) s
        WHERE i < 400 + (d.doc_id % 5) * 100
    ),
    decoded AS (
        SELECT doc_id, i,
               CASE WHEN doc_id % 2 = 0 THEN
                   -- mu-law expansion (G.711): complement, then
                   -- ((mant*8+132) << exp) - 132 with the sign from
                   -- the complemented byte's high bit
                   CASE WHEN (255 - b) >= 128
                        THEN 132 - CAST(((255 - b) % 16 * 8 + 132)
                                        * power(2, ((255 - b) // 16) % 8) AS BIGINT)
                        ELSE CAST(((255 - b) % 16 * 8 + 132)
                                  * power(2, ((255 - b) // 16) % 8) AS BIGINT) - 132
                   END
               ELSE
                   -- A-law expansion: xor 0x55, segment-wise unpack,
                   -- high bit set means positive
                   CASE WHEN xor(b, 85) >= 128 THEN 1 ELSE -1 END *
                   CASE ((xor(b, 85) // 16) % 8)
                        WHEN 0 THEN (xor(b, 85) % 16) * 16 + 8
                        WHEN 1 THEN (xor(b, 85) % 16) * 16 + 264
                        ELSE CAST(((xor(b, 85) % 16) * 16 + 264)
                                  * power(2, ((xor(b, 85) // 16) % 8) - 1) AS BIGINT)
                   END
               END AS val
        FROM bytes
    )
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'ulaw' ELSE 'alaw' END AS codec,
           count(*) AS n_samples,
           CAST(sum(val) AS BIGINT) AS sum_val,
           min(val) AS min_val,
           max(val) AS max_val
    FROM decoded
    GROUP BY doc_id
    """,
)
def av_audio_g711_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-audio decode: per doc, a deterministic byte
    stream becomes a genuine G.711 WAV — mu-law (fmt tag 0x0007) for
    even doc_ids, A-law (0x0006) for odd — and the Spark side walks
    the RIFF container, dispatches on the format tag, and expands the
    companded bytes to linear int16 (multimodal/audio.py, vendored
    CCITT G.711). The oracle re-derives the expansion in closed-form
    integer SQL from the same byte arithmetic, so the container walk,
    tag dispatch, complement/xor, segment unpack, and sign handling
    all have to agree sample-exactly."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 6)
        .repartition(32)
    )

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import audio as _audio_mod

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 400 + (d % 5) * 100
                i = _np.arange(n, dtype=_np.int64)
                payload = ((d * 7 + i * 13) % 256).astype(_np.uint8).tobytes()
                codec = "ulaw" if d % 2 == 0 else "alaw"
                # wrap the raw companded bytes in a real WAV container
                import struct as _struct

                tag = (
                    _audio_mod.WAVE_MULAW if codec == "ulaw" else _audio_mod.WAVE_ALAW
                )
                wav = (
                    b"RIFF" + _struct.pack("<I", 36 + n) + b"WAVE"
                    + b"fmt " + _struct.pack("<IHHIIHH", 16, tag, 1, 8000, 8000, 1, 8)
                    + b"data" + _struct.pack("<I", n) + payload
                )
                rows.append((d, codec, wav))
            yield _pd.DataFrame(rows, columns=["doc_id", "codec", "content"])

    audio = docs.mapInPandas(gen, "doc_id long, codec string, content binary")

    def decode(batches):
        import pandas as _pd

        from dwh_spark.multimodal import audio as _audio_mod

        for pdf in batches:
            rows = []
            for d, codec, blob in zip(pdf["doc_id"], pdf["codec"], pdf["content"]):
                samples, _rate = _audio_mod.wav_decode(bytes(blob))
                s = samples[:, 0].astype("int64")
                rows.append(
                    (int(d), codec, len(s), int(s.sum()), int(s.min()), int(s.max()))
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "n_samples", "sum_val", "min_val", "max_val",
                ],
            )

    return audio.mapInPandas(
        decode,
        "doc_id long, codec string, n_samples long, sum_val long, "
        "min_val long, max_val long",
    )


@query(
    "av_audio_adpcm_decode_stats",
    oracle="""
    WITH RECURSIVE d9 AS (
        SELECT doc_id,
               (doc_id * 31) % 4096 - 2048 AS pred0,
               doc_id % 89 AS idx0
        FROM documents WHERE doc_id % 10 = 9
    ),
    adpcm(doc_id, i, pred, idx) AS (
        SELECT doc_id, 0, pred0, idx0 FROM d9
        UNION ALL
        SELECT doc_id, i + 1,
               GREATEST(-32768, LEAST(32767, pred
                   + CASE WHEN nib >= 8 THEN -1 ELSE 1 END
                     * (step // 8
                        + (nib % 2) * (step // 4)
                        + ((nib // 2) % 2) * (step // 2)
                        + ((nib // 4) % 2) * step))),
               GREATEST(0, LEAST(88, idx
                   + CASE nib % 8 WHEN 4 THEN 2 WHEN 5 THEN 4
                                  WHEN 6 THEN 6 WHEN 7 THEN 8
                                  ELSE -1 END))
        FROM (
            SELECT doc_id, i, pred, idx,
                   (doc_id * 7 + (i + 1) * 13) % 16 AS nib,
                   [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,41,45,
                    50,55,60,66,73,80,88,97,107,118,130,143,157,173,190,209,
                    230,253,279,307,337,371,408,449,494,544,598,658,724,796,
                    876,963,1060,1166,1282,1411,1552,1707,1878,2066,2272,2499,
                    2749,3024,3327,3660,4026,4428,4871,5358,5894,6484,7132,
                    7845,8630,9493,10442,11487,12635,13899,15289,16818,18500,
                    20350,22385,24623,27086,29794,32767][idx + 1] AS step
            FROM adpcm WHERE i < 400
        ) t
    )
    SELECT doc_id,
           'ima_adpcm' AS codec,
           count(*) AS n_samples,
           CAST(sum(pred) AS BIGINT) AS sum_val,
           min(pred) AS min_val,
           max(pred) AS max_val
    FROM adpcm
    GROUP BY doc_id
    """,
)
def av_audio_adpcm_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL adaptive-codec decode: per doc, one IMA ADPCM block (WAV
    fmt tag 0x0011) is assembled from a deterministic nibble stream
    plus a (predictor, step-index) header, and the Spark side decodes
    it through the vendored state machine (multimodal/audio.py) after
    the RIFF walk + tag dispatch. The oracle runs the SAME 89-step
    IMA state machine as a recursive CTE in DuckDB — step-table
    lookup, magnitude accumulation, clamping, and index adjustment
    per sample — so the two engines must agree on every one of the
    401 sequential states per doc, not just on aggregate shape."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 9)
        .repartition(32)
    )

    def gen(batches):
        import struct as _struct

        import pandas as _pd

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                pred0 = (d * 31) % 4096 - 2048
                idx0 = d % 89
                nibs = [(d * 7 + i * 13) % 16 for i in range(1, 401)]
                body = bytearray(_struct.pack("<hBB", pred0, idx0, 0))
                for lo, hi in zip(nibs[::2], nibs[1::2]):
                    body.append(lo | (hi << 4))
                block_align = len(body)  # 4 + 200
                wav = (
                    b"RIFF" + _struct.pack("<I", 36 + len(body)) + b"WAVE"
                    + b"fmt " + _struct.pack(
                        "<IHHIIHH", 16, 0x0011, 1, 8000, 4055, block_align, 4
                    )
                    + b"data" + _struct.pack("<I", len(body)) + bytes(body)
                )
                rows.append((d, wav))
            yield _pd.DataFrame(rows, columns=["doc_id", "content"])

    audio = docs.mapInPandas(gen, "doc_id long, content binary")

    def decode(batches):
        import pandas as _pd

        from dwh_spark.multimodal import audio as _audio_mod

        for pdf in batches:
            rows = []
            for d, blob in zip(pdf["doc_id"], pdf["content"]):
                samples, _rate = _audio_mod.wav_decode(bytes(blob))
                s = samples[:, 0].astype("int64")
                rows.append(
                    (int(d), "ima_adpcm", len(s), int(s.sum()),
                     int(s.min()), int(s.max()))
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "codec", "n_samples", "sum_val", "min_val", "max_val",
                ],
            )

    return audio.mapInPandas(
        decode,
        "doc_id long, codec string, n_samples long, sum_val long, "
        "min_val long, max_val long",
    )


@query(
    "av_audio_flac_decode_stats",
    oracle="""
    WITH samples AS (
        SELECT d.doc_id, i,
               (d.doc_id * 7 + i * 13) % 2048 - 1024 AS s
        FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 1) d
        CROSS JOIN (SELECT unnest(generate_series(0, 5999)) AS i) g
        WHERE i < 3000 + (d.doc_id % 4) * 1000
    )
    SELECT doc_id,
           CASE doc_id % 3 WHEN 0 THEN 'fixed0'
                           WHEN 1 THEN 'fixed1'
                           ELSE 'fixed2' END AS predictor,
           count(*) AS n_samples,
           CAST(sum(s) AS BIGINT) AS sum_val,
           min(s) AS min_val,
           max(s) AS max_val
    FROM samples GROUP BY doc_id
    """,
)
def av_audio_flac_decode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossless-codec decode — FLAC (RFC 9639, vendored
    multimodal/flac.py): per doc a deterministic int16 signal is
    FLAC-encoded with a pinned FIXED predictor order (doc_id % 3, so
    the driver row exercises order-0/1/2 integrators and rice
    residual decode across multi-frame streams), then decoded through
    the full container path — metadata walk, frame sync, UTF-8 frame
    numbers, CRC-8/CRC-16 verification. FLAC is lossless, so the
    oracle pins exact per-doc aggregates from the generation
    arithmetic alone; a single wrong residual, warmup sample, or
    predictor coefficient breaks the sum."""
    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") % 10 == 1)
        .repartition(32)
    )

    def gen(batches):
        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import flac as _flac

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                n = 3000 + (d % 4) * 1000
                i = _np.arange(n, dtype=_np.int64)
                s = (d * 7 + i * 13) % 2048 - 1024
                blob = _flac.flac_encode(
                    s, rate=8000, block_size=2048, fixed_order=d % 3
                )
                rows.append((d, f"fixed{d % 3}", blob))
            yield _pd.DataFrame(rows, columns=["doc_id", "predictor", "content"])

    audio = docs.mapInPandas(gen, "doc_id long, predictor string, content binary")

    def decode(batches):
        import pandas as _pd

        from dwh_spark.multimodal import flac as _flac

        for pdf in batches:
            rows = []
            for d, pred, blob in zip(
                pdf["doc_id"], pdf["predictor"], pdf["content"]
            ):
                samples, _rate = _flac.flac_decode(bytes(blob))
                s = samples[:, 0].astype("int64")
                rows.append(
                    (int(d), pred, len(s), int(s.sum()), int(s.min()), int(s.max()))
                )
            yield _pd.DataFrame(
                rows,
                columns=[
                    "doc_id", "predictor", "n_samples",
                    "sum_val", "min_val", "max_val",
                ],
            )

    return audio.mapInPandas(
        decode,
        "doc_id long, predictor string, n_samples long, sum_val long, "
        "min_val long, max_val long",
    )


@query(
    "av_audio_fp_near_dups",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 1 AS gain, -1 AS edit_w
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 2, -1 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1, 3 FROM documents WHERE doc_id % 10 = 6
    ),
    seeds AS (
      SELECT i.audio_id, i.gain, i.edit_w, w.w,
             ('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':'
                                 || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
    ),
    sq AS (
      SELECT s.audio_id, s.w,
             sum(CASE WHEN s.w = s.edit_w THEN 500 * 500
                  ELSE (((s.a + t.j * 13) % 2048 - 1024) * s.gain)
                       * (((s.a + t.j * 13) % 2048 - 1024) * s.gain)
                 END) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2
    ),
    fp AS (
      SELECT a.audio_id,
             CAST(sum(CASE WHEN b.e > a.e THEN (1::BIGINT << a.w)
                           ELSE 0 END) AS BIGINT) AS h
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
      GROUP BY 1
    )
    SELECT f1.audio_id AS id_a, f2.audio_id AS id_b,
           CAST(bit_count(xor(f1.h, f2.h)) AS BIGINT) AS hamming
    FROM fp f1 JOIN fp f2 ON f1.audio_id < f2.audio_id
    WHERE bit_count(xor(f1.h, f2.h)) <= 3
    """,
)
def av_audio_fp_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual AUDIO near-dup dedup — the audio twin of
    imgs_phash_near_dups, closing the same gap for the third modality:
    content-md5 dedup misses every gain change and re-encode of the
    same recording. Each doc becomes a REAL 3648-sample PCM16 WAV
    whose samples are closed-form integer arithmetic; doc_id%10==4
    plants an amplitude-DOUBLED copy (id +1,000,000 — gain scales
    every window energy by exactly 4, so the energy-difference
    fingerprint is IDENTICAL: hamming 0 by construction, no float
    anywhere) and %10==6 plants a one-window edit (id +2,000,000 —
    disturbs at most the two comparisons touching the window).

    The Spark side does the real work: WAV container decode → int64
    window energies → 56-bit Haitsma-Kalker-style sign hash
    (multimodal/audio_fp.py) in one Arrow mapInPandas pass, then the
    permute-and-reblock pigeonhole join (4×14-bit blocks, full recall
    at hamming ≤ 3, never all-pairs). The oracle never decodes: it
    re-derives every fingerprint from the generating arithmetic and
    brute-forces all-pairs — container assembly, decode, windowing,
    energy, and blocking all have to agree."""
    from dwh_spark.multimodal.audio_fp import audio_fp_near_dup_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)  # single-row-group fixture would pin one core
    )

    audio = _audio_fp_fixture(docs, base=True, variants=True)
    pairs = audio_fp_near_dup_pairs(audio, key="audio_id", max_hamming=3)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "av_video_phash_near_dups",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS edit FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1 FROM documents WHERE doc_id % 10 = 6
    ),
    cells AS (
      SELECT i.video_id, f.f, g.r, g.c,
             ((('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 4)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    frame_pairs AS (
      SELECT h1.video_id AS id_a, h2.video_id AS id_b,
             bit_count(xor(h1.h, h2.h)) AS hamming
      FROM hashes h1
      JOIN hashes h2 ON h2.f = h1.f AND h1.video_id < h2.video_id
      WHERE bit_count(xor(h1.h, h2.h)) <= 3
    )
    SELECT id_a, id_b, count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_pairs GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def av_video_phash_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual VIDEO near-dup dedup — temporally-aligned per-frame
    dHash voting (multimodal/perceptual.py:video_perceptual_near_dups),
    lifting the image dHash to the third multimodal family: a
    re-encoded/resized copy matches on every frame; a one-frame edit
    costs one vote, not the match. Each doc becomes a REAL 4-frame
    uncompressed AVI of 8×8 two-tone md5-grid frames; doc_id%10==4
    plants a 2× nearest-upscaled full re-encode (id +1,000,000 — all
    4 frames hash-identical) and %10==6 plants a copy whose FRAME 2
    has one cell flipped (id +2,000,000 — that frame moves ≤ 2 bits,
    the other three are exact). The Spark side decodes real RIFF/movi
    bytes (each blob crosses to Python once; only 16-byte-per-frame
    fingerprints come back) and votes via the per-(frame_ix, block)
    pigeonhole join; the oracle re-derives every frame hash from the
    generating arithmetic and brute-forces the aligned frame pairs —
    encode, container walk, decode, downscale, and voting all have to
    agree."""
    from dwh_spark.multimodal.perceptual import video_perceptual_near_dups

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)  # single-row-group fixture would pin one core
    )

    vids = _video_phash_fixture(docs, base=True, variants=True)
    pairs = video_perceptual_near_dups(vids, max_hamming=3, min_frames=3)
    return pairs.select(
        "id_a",
        "id_b",
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


def _audio_fp_fixture(docs, base: bool, variants: bool):
    """The perceptual audio fixture shared by the batch and incremental
    fingerprint queries: per doc a 3648-sample PCM16 WAV whose window
    energies are md5-seeded (a shared linear sequence would make every
    clip a near-dup of every other — the fixture needs real
    negatives); per ten docs an amplitude-DOUBLED copy (id +1,000,000,
    doc_id%10==4 — fingerprint-identical, exact integer gain) and a
    one-window edit (id +2,000,000, %10==6). All arithmetic is
    SQL-derivable so the oracles never decode."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)

        def clip(d: int) -> "_np.ndarray":
            wins = []
            for w in range(57):
                a = (
                    int(_hashlib.md5(f"{d}:{w}".encode()).hexdigest()[:4], 16)
                    % 2048
                )
                wins.append((a + j * 13) % 2048 - 1024)
            return _np.concatenate(wins).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = clip(d)
                if base:
                    rows.append((d, wav_encode(s, 1000)))
                if variants and d % 10 == 4:
                    rows.append((d + 1000000, wav_encode(s * 2, 1000)))
                if variants and d % 10 == 6:
                    t = s.copy()
                    t[3 * 64 : 4 * 64] = 500
                    rows.append((d + 2000000, wav_encode(t, 1000)))
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


def _video_phash_fixture(docs, base: bool, variants: bool):
    """The perceptual video fixture shared by the batch and incremental
    queries: per doc a REAL 4-frame uncompressed AVI of 8×8 two-tone
    md5-grid frames; per ten docs a 2× nearest-upscaled full re-encode
    (id +1,000,000, doc_id%10==4) and a copy whose frame 2 has one
    cell flipped (id +2,000,000, %10==6)."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(b: int, f: int, flip: bool) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            if flip:
                g[b % 8, (b // 8) % 8] ^= 1
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        def video(b: int, edit: bool, scale: int) -> bytes:
            frames = _np.stack(
                [grid(b, f, flip=edit and f == 2) for f in range(4)]
            )
            if scale > 1:
                frames = frames.repeat(scale, axis=1).repeat(scale, axis=2)
            return codecs.avi_encode(frames)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if base:
                    out.append((d, 4, video(d, False, 1)))
                if variants and d % 10 == 4:
                    out.append((d + 1000000, 4, video(d, False, 2)))
                if variants and d % 10 == 6:
                    out.append((d + 2000000, 4, video(d, True, 1)))
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


@query(
    "av_audio_fp_incremental_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 1 AS gain, -1 AS edit_w,
             0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 2, -1, 1 FROM documents
      WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1, 3, 1 FROM documents
      WHERE doc_id % 10 = 6
    ),
    seeds AS (
      SELECT i.audio_id, i.is_new, i.gain, i.edit_w, w.w,
             ('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':'
                                 || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
    ),
    sq AS (
      SELECT s.audio_id, s.is_new, s.w,
             sum(CASE WHEN s.w = s.edit_w THEN 500 * 500
                  ELSE (((s.a + t.j * 13) % 2048 - 1024) * s.gain)
                       * (((s.a + t.j * 13) % 2048 - 1024) * s.gain)
                 END) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2, 3
    ),
    fp AS (
      SELECT a.audio_id, a.is_new,
             CAST(sum(CASE WHEN b.e > a.e THEN (1::BIGINT << a.w)
                           ELSE 0 END) AS BIGINT) AS h
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
      GROUP BY 1, 2
    )
    SELECT n.audio_id AS batch_id, x.audio_id AS index_id,
           CAST(bit_count(xor(n.h, x.h)) AS BIGINT) AS hamming
    FROM fp n JOIN fp x ON n.is_new = 1 AND x.is_new = 0
    WHERE bit_count(xor(n.h, x.h)) <= 3
    """,
)
def av_audio_fp_incremental_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time AUDIO perceptual screen — the audio twin of
    imgs_phash_incremental_ingest: the corpus fingerprint index is the
    stored (audio_id, afp) frame built ONCE from the base clips (16
    bytes/clip); the daily batch is the planted variants (doubled-gain
    copies and one-window edits). Only the batch is decoded; its
    14-bit blocks are BROADCAST into the index
    (multimodal/audio_fp.py:audio_fp_incremental_ingest), so the
    corpus is scanned once — never shuffled, never re-decoded. The
    oracle re-derives both fingerprint sets arithmetically and
    brute-forces batch×index."""
    from dwh_spark.multimodal.audio_fp import (
        audio_fp_frame,
        audio_fp_incremental_ingest,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = audio_fp_frame(_audio_fp_fixture(docs, base=True, variants=False))
    batch = _audio_fp_fixture(docs, base=False, variants=True)
    matches = audio_fp_incremental_ingest(index, batch, max_hamming=3)
    return matches.select(
        "batch_id", "index_id", F.col("hamming").cast("long").alias("hamming")
    )


@query(
    "av_video_phash_incremental_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS edit, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 1 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 1, 1 FROM documents WHERE doc_id % 10 = 6
    ),
    cells AS (
      SELECT i.video_id, i.is_new, f.f, g.r, g.c,
             ((('0x' || substr(md5(CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 4)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.video_id, b1.is_new, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2, 3
    ),
    frame_matches AS (
      SELECT n.video_id AS batch_id, x.video_id AS index_id,
             bit_count(xor(n.h, x.h)) AS hamming
      FROM hashes n
      JOIN hashes x ON x.f = n.f AND n.is_new = 1 AND x.is_new = 0
      WHERE bit_count(xor(n.h, x.h)) <= 3
    )
    SELECT batch_id, index_id, count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_matches GROUP BY 1, 2 HAVING count(*) >= 3
    """,
)
def av_video_phash_incremental_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Ingest-time VIDEO perceptual screen: the corpus keeps a
    per-frame fingerprint index (16 bytes/frame, built once as each
    video was ingested); a new batch decodes ONLY itself, broadcasts
    its per-frame blocks into the index per (frame_ix, block) —
    temporally aligned inside the join — and votes like the batch
    query (≥ 3 of 4 frames at hamming ≤ 3). The oracle re-derives
    every frame hash arithmetically and brute-forces the aligned
    batch×index frame pairs."""
    from dwh_spark.multimodal.perceptual import (
        video_dhash_frames,
        video_perceptual_incremental_ingest,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = video_dhash_frames(_video_phash_fixture(docs, base=True, variants=False))
    batch = _video_phash_fixture(docs, base=False, variants=True)
    matches = video_perceptual_incremental_ingest(
        index, batch, max_hamming=3, min_frames=3
    )
    return matches.select(
        "batch_id",
        "index_id",
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


def _audio_offset_fixture(docs, base: bool, variants: bool):
    """Fixture for the offset-tolerant (Haitsma-Kalker block-matching)
    audio query: per doc a 57-window clip with md5-seeded window
    energies (seed prefix 'off:' decorrelates it from
    _audio_fp_fixture, FIXTURES.md discipline); per ten docs a
    HEAD-TRIMMED copy (first 8 windows = 512 samples dropped,
    id +3,000,000, doc_id%10==3 — the copy class the whole-clip hash
    misses entirely) and a TAIL-TRIMMED + exact-2x-gain copy (last 8
    windows dropped, id +1,000,000, %10==7 — trim composed with the
    gain invariance). All arithmetic is SQL-derivable; the gain never
    reaches the oracle because scaling every energy by the same
    constant preserves every comparison."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)

        def clip(d: int) -> "_np.ndarray":
            wins = []
            for w in range(57):
                a = (
                    int(_hashlib.md5(f"off:{d}:{w}".encode()).hexdigest()[:4], 16)
                    % 2048
                )
                wins.append((a + j * 13) % 2048 - 1024)
            return _np.concatenate(wins).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = clip(d)
                if base:
                    rows.append((d, wav_encode(s, 1000)))
                if variants and d % 10 == 3:
                    rows.append((d + 3000000, wav_encode(s[8 * 64:], 1000)))
                if variants and d % 10 == 7:
                    doubled = (s[: 49 * 64].astype(_np.int64) * 2).astype(_np.int16)
                    rows.append((d + 1000000, wav_encode(doubled, 1000)))
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


@query(
    "av_audio_fp_offset_near_dups",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 0 AS skip_head, 57 AS n_win
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 8, 49 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 49 FROM documents
      WHERE doc_id % 10 = 7
    ),
    seeds AS (
      SELECT i.audio_id, w.w,
             ('0x' || substr(md5('off:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(i.skip_head + w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
      WHERE w.w < i.n_win
    ),
    sq AS (
      SELECT s.audio_id, s.w,
             sum((((s.a + t.j * 13) % 2048 - 1024)
                  * ((s.a + t.j * 13) % 2048 - 1024))) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    )
    SELECT a.audio_id AS id_a, b.audio_id AS id_b,
           CAST(a.p - b.p AS BIGINT) AS offset_w,
           count(*) AS n_matches
    FROM sub a JOIN sub b
      ON b.word = a.word AND a.audio_id < b.audio_id
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
    """,
)
def av_audio_fp_offset_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OFFSET-TOLERANT audio near-dups (VERDICT r11 missing #4) — the
    Haitsma-Kalker block-matching form: fixed 64-sample windows, one
    32-bit subfingerprint per position (sliding word of the
    energy-difference sign bits), exact-equality lookup join, and a
    relative-offset vote. The planted HEAD-TRIM copies (8 windows cut)
    — invisible to the whole-clip hash of av_audio_fp_near_dups, which
    re-partitions every window — match at offset_w=8 with 17 votes;
    the TAIL-TRIM + 2x-gain copies match at offset_w=0 (gain scales
    every energy equally and preserves every comparison). The oracle
    re-derives windows → energies → sign bits → 32-bit words → the
    offset vote arithmetically, never decoding audio. Scale: the join
    is H-K's lookup table as an equi-join on the 32-bit word (fan-out
    = positions/2^32, never all-pairs); the vote shuffles only matched
    (id_a, id_b, offset) rows."""
    from dwh_spark.multimodal.audio_fp import audio_offset_near_dup_pairs

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    audio = _audio_offset_fixture(docs, base=True, variants=True)
    return audio_offset_near_dup_pairs(audio, min_matches=5).select(
        "id_a",
        "id_b",
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )


def _video_offset_fixture(docs, base: bool, variants: bool):
    """Fixture for the offset-tolerant video query: per doc a REAL
    5-frame uncompressed AVI of 8×8 two-tone md5-grid frames (seed
    prefix 'voff:' decorrelates from _video_phash_fixture); per ten
    docs a HEAD-DROPPED copy (frame 0 cut → 4 frames, id +3,000,000,
    doc_id%10==3 — loses EVERY vote under absolute-frame_ix voting)
    and a head-dropped copy with one cell flipped in base frame 2
    (id +1,000,000, %10==7 — the flip moves ≤ 2 dHash bits, so the
    edited frame still matches at hamming ≤ 3 and shows up in
    total_hamming instead)."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(b: int, f: int, flip: bool) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"voff:{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            if flip:
                g[b % 8, (b // 8) % 8] ^= 1
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        def video(b: int, head_drop: bool, edit: bool):
            frames = [grid(b, f, flip=edit and f == 2) for f in range(5)]
            if head_drop:
                frames = frames[1:]
            return codecs.avi_encode(_np.stack(frames)), len(frames)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if base:
                    v, n = video(d, False, False)
                    out.append((d, n, v))
                if variants and d % 10 == 3:
                    v, n = video(d, True, False)
                    out.append((d + 3000000, n, v))
                if variants and d % 10 == 7:
                    v, n = video(d, True, True)
                    out.append((d + 1000000, n, v))
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


@query(
    "av_video_phash_offset_near_dups",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head, 0 AS edit
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0 FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 1, 1 FROM documents WHERE doc_id % 10 = 7
    ),
    cells AS (
      SELECT i.video_id, f.f - i.drop_head AS f, g.r, g.c,
             ((('0x' || substr(md5('voff:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.drop_head
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    frame_matches AS (
      SELECT a.video_id AS id_a, b.video_id AS id_b,
             a.f - b.f AS offset_f,
             bit_count(xor(a.h, b.h)) AS hamming
      FROM hashes a JOIN hashes b ON a.video_id < b.video_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
    )
    SELECT id_a, id_b, CAST(offset_f AS BIGINT) AS offset_f,
           count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_matches GROUP BY 1, 2, 3 HAVING count(*) >= 3
    """,
)
def av_video_phash_offset_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """OFFSET-TOLERANT video near-dups (VERDICT r11 missing #4): frame
    pairs vote on their RELATIVE offset (frame_ix_a - frame_ix_b)
    instead of joining on absolute frame_ix, so the planted
    HEAD-DROPPED copies — which lose every vote under
    av_video_phash_near_dups' temporally-aligned join — match at
    offset_f=1 with 4 of 4 surviving frames (the edited variant's
    flipped cell moves ≤ 2 dHash bits, so its frame still votes and
    the edit surfaces in total_hamming). The oracle re-derives every
    frame hash arithmetically and brute-forces the UNALIGNED frame
    pair set. Scale trade stated on the operator
    (multimodal/perceptual.py:video_offset_near_dups): the blocked
    join's bucket is the frame corpus per 14-bit value — the image
    near-dup's fan-out class — composable with coarse time-banding
    when the corpus outgrows it."""
    from dwh_spark.multimodal.perceptual import video_offset_near_dups

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    vids = _video_offset_fixture(docs, base=True, variants=True)
    return video_offset_near_dups(vids, max_hamming=3, min_frames=3).select(
        "id_a",
        "id_b",
        F.col("offset").cast("long").alias("offset_f"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


@query(
    "av_audio_fp_offset_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 0 AS skip_head,
             57 AS n_win, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 8, 49, 1 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 49, 1 FROM documents
      WHERE doc_id % 10 = 7
    ),
    seeds AS (
      SELECT i.audio_id, i.is_new, w.w,
             ('0x' || substr(md5('off:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(i.skip_head + w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
      WHERE w.w < i.n_win
    ),
    sq AS (
      SELECT s.audio_id, s.is_new, s.w,
             sum((((s.a + t.j * 13) % 2048 - 1024)
                  * ((s.a + t.j * 13) % 2048 - 1024))) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.audio_id, a.is_new, a.w,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, b.is_new, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2, 3
      HAVING count(*) = 32
    )
    SELECT n.audio_id AS batch_id, x.audio_id AS index_id,
           CAST(x.p - n.p AS BIGINT) AS offset_w,
           count(*) AS n_matches
    FROM sub n JOIN sub x
      ON x.word = n.word AND n.is_new = 1 AND x.is_new = 0
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
    """,
)
def av_audio_fp_offset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time OFFSET-TOLERANT audio screen — the H-K lookup table
    as the stored artifact: the corpus side is the (audio_id, pos,
    sub32) subfingerprint table built once from the base clips (~12
    bytes/position, the audio analog of the per-frame video index);
    the daily batch is the planted trimmed/gain variants. Only the
    batch is decoded; its subfingerprints are BROADCAST into the index
    (multimodal/audio_fp.py:audio_offset_incremental_ingest), the
    index is scanned once — never shuffled, never re-decoded — and
    matches vote per relative offset, so the head-trimmed batch clips
    surface at offset_w=8 even though their whole-clip hash shares no
    window with the stored one. The oracle re-derives both
    subfingerprint tables arithmetically and brute-forces the
    batch×index word matches."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_incremental_ingest,
        audio_subfingerprint_frame,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = audio_subfingerprint_frame(_audio_offset_fixture(docs, base=True, variants=False))
    batch = _audio_offset_fixture(docs, base=False, variants=True)
    matches = audio_offset_incremental_ingest(index, batch, min_matches=5)
    return matches.select(
        "batch_id",
        "index_id",
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )


@query(
    "av_video_phash_offset_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head,
             0 AS edit, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0, 1 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 1, 1, 1 FROM documents
      WHERE doc_id % 10 = 7
    ),
    cells AS (
      SELECT i.video_id, i.is_new, f.f - i.drop_head AS f, g.r, g.c,
             ((('0x' || substr(md5('voff:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.drop_head
    ),
    hashes AS (
      SELECT b1.video_id, b1.is_new, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2, 3
    ),
    frame_matches AS (
      SELECT n.video_id AS batch_id, x.video_id AS index_id,
             x.f - n.f AS offset_f,
             bit_count(xor(n.h, x.h)) AS hamming
      FROM hashes n JOIN hashes x ON n.is_new = 1 AND x.is_new = 0
      WHERE bit_count(xor(n.h, x.h)) <= 3
    )
    SELECT batch_id, index_id, CAST(offset_f AS BIGINT) AS offset_f,
           count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_matches GROUP BY 1, 2, 3 HAVING count(*) >= 3
    """,
)
def av_video_phash_offset_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time OFFSET-TOLERANT video screen: the stored per-frame
    fingerprint index catches a HEAD-DROPPED batch copy that the
    aligned probe (av_video_phash_incremental_ingest) misses by
    construction — the probe drops the frame_ix join key and votes on
    the relative offset instead
    (multimodal/perceptual.py:video_offset_vote_probe). Only the batch
    is decoded; its per-frame blocks are BROADCAST into the index
    (scanned once, never shuffled, never re-decoded). The planted
    head-dropped copies match at offset_f=1 with all 4 surviving
    frames; the dropped+edited copies keep all 4 votes with the edit
    in total_hamming. The oracle re-derives every frame hash and
    brute-forces the UNALIGNED batch×index frame pairs."""
    from dwh_spark.multimodal.perceptual import (
        video_dhash_frames,
        video_offset_vote_probe,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = video_dhash_frames(_video_offset_fixture(docs, base=True, variants=False))
    batch = _video_offset_fixture(docs, base=False, variants=True)
    matches = video_offset_vote_probe(
        index, video_dhash_frames(batch), max_hamming=3, min_frames=3
    )
    return matches.select(
        "batch_id",
        "index_id",
        F.col("offset").cast("long").alias("offset_f"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


def _audio_snippet_fixture(docs, base: bool, snippets: bool):
    """Fixture for audio SNIPPET identification: the corpus is the
    same 57-window md5-seeded clips as _audio_offset_fixture (seed
    'off:' — one stored lookup table serves both the dedup and the
    retrieval query, exactly like production); per ten docs a 40-window
    MID-CLIP snippet (windows 8..47, id +4,000,000, doc_id%10==1 — an
    id arm the offset fixture doesn't use). A 40-window snippet yields
    8 subfingerprints; all 8 match the source clip at offset 8."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)

        def clip(d: int) -> "_np.ndarray":
            wins = []
            for w in range(57):
                a = (
                    int(_hashlib.md5(f"off:{d}:{w}".encode()).hexdigest()[:4], 16)
                    % 2048
                )
                wins.append((a + j * 13) % 2048 - 1024)
            return _np.concatenate(wins).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = clip(d)
                if base:
                    rows.append((d, wav_encode(s, 1000)))
                if snippets and d % 10 == 1:
                    rows.append(
                        (d + 4000000, wav_encode(s[8 * 64 : 48 * 64], 1000))
                    )
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


@query(
    "av_audio_snippet_search",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 0 AS skip_head,
             57 AS n_win, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 4000000, doc_id, 8, 40, 1 FROM documents
      WHERE doc_id % 10 = 1
    ),
    seeds AS (
      SELECT i.audio_id, i.is_new, w.w,
             ('0x' || substr(md5('off:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(i.skip_head + w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM ids i, (SELECT unnest(range(0, 57)) AS w) w
      WHERE w.w < i.n_win
    ),
    sq AS (
      SELECT s.audio_id, s.is_new, s.w,
             sum((((s.a + t.j * 13) % 2048 - 1024)
                  * ((s.a + t.j * 13) % 2048 - 1024))) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.audio_id, a.is_new, a.w,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, b.is_new, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2, 3
      HAVING count(*) = 32
    )
    SELECT q.audio_id AS snippet_id, x.audio_id AS clip_id,
           CAST(x.p - q.p AS BIGINT) AS offset_w,
           count(*) AS n_matches
    FROM sub q JOIN sub x
      ON x.word = q.word AND q.is_new = 1 AND x.is_new = 0
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
    """,
)
def av_audio_snippet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUDIO SNIPPET IDENTIFICATION — the Haitsma-Kalker lookup
    table's actual retrieval use (song-ID): given a SHORT mid-clip
    excerpt, return WHICH stored clip contains it and WHERE
    (offset_w = windows into the clip). Same stored artifact and the
    same broadcast probe as the offset dedup
    (multimodal/audio_fp.py:audio_offset_vote_probe) — the dedup index
    doubles as a content-identification index, no second structure.
    The planted 40-window mid-clip snippets (windows 8..47 of their
    source) yield 8 subfingerprints; all 8 hit the source at
    offset_w=8 — a whole-clip hash cannot express this query at all
    (the snippet shares no window partition with the stored clip).
    Scale: snippets are the tiny broadcast side; the 2.5M-row-per-100k
    -clip lookup table is scanned once (the audio_offset_ingest smoke
    measures exactly this asymmetry). The oracle re-derives both
    subfingerprint tables arithmetically and brute-forces the
    snippet×corpus word matches."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = audio_subfingerprint_frame(
        _audio_snippet_fixture(docs, base=True, snippets=False)
    )
    queries_fp = audio_subfingerprint_frame(
        _audio_snippet_fixture(docs, base=False, snippets=True)
    )
    matches = audio_offset_vote_probe(index, queries_fp, min_matches=5)
    return matches.select(
        F.col("batch_id").alias("snippet_id"),
        F.col("index_id").alias("clip_id"),
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )


def _video_snippet_fixture(docs, base: bool, snippets: bool):
    """Fixture for video SNIPPET identification: the corpus is the same
    5-frame md5-seeded videos as _video_offset_fixture (seed 'voff:' —
    one stored per-frame index serves both the dedup and the retrieval
    query); per ten docs a 3-frame MID-CLIP excerpt (frames 1..3,
    id +4,000,000, doc_id%10==1 — an id arm the offset fixture doesn't
    use). All 3 excerpt frames hit the source video at offset 1."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(b: int, f: int) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"voff:{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                frames = [grid(d, f) for f in range(5)]
                if base:
                    out.append((d, 5, codecs.avi_encode(_np.stack(frames))))
                if snippets and d % 10 == 1:
                    out.append(
                        (d + 4000000, 3, codecs.avi_encode(_np.stack(frames[1:4])))
                    )
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


@query(
    "av_video_snippet_search",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS skip_f, 5 AS n_f,
             0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 4000000, doc_id, 1, 3, 1 FROM documents
      WHERE doc_id % 10 = 1
    ),
    cells AS (
      SELECT i.video_id, i.is_new, f.f - i.skip_f AS f, g.r, g.c,
             ('0x' || substr(md5('voff:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(f.f AS VARCHAR) || ':' || g.r
                              || ':' || g.c), 1, 1))::INT % 2 AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.skip_f AND f.f < i.skip_f + i.n_f
    ),
    hashes AS (
      SELECT b1.video_id, b1.is_new, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2, 3
    ),
    frame_matches AS (
      SELECT q.video_id AS snippet_id, x.video_id AS clip_id,
             x.f - q.f AS offset_f,
             bit_count(xor(q.h, x.h)) AS hamming
      FROM hashes q JOIN hashes x ON q.is_new = 1 AND x.is_new = 0
      WHERE bit_count(xor(q.h, x.h)) <= 3
    )
    SELECT snippet_id, clip_id, CAST(offset_f AS BIGINT) AS offset_f,
           count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_matches GROUP BY 1, 2, 3 HAVING count(*) >= 3
    """,
)
def av_video_snippet_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VIDEO SNIPPET IDENTIFICATION — the per-frame index's retrieval
    use (scene-ID): a SHORT mid-clip frame excerpt returns WHICH
    stored video contains it and WHERE (offset_f = frames into the
    clip). Same stored artifact and the same relative-offset broadcast
    probe as the video offset dedup
    (multimodal/perceptual.py:video_offset_vote_probe) — the per-frame
    dedup index doubles as the content-identification index. The
    planted 3-frame excerpts (frames 1..3 of their 5-frame source)
    match at offset_f=1 with all 3 frames at hamming 0 — the aligned
    probe cannot express this query (frame 0 of the excerpt is frame 1
    of the source). Scale: excerpts are the tiny broadcast side; the
    per-frame index (2M rows at the video smoke's 200k corpus) is
    scanned once. The oracle re-derives every frame hash and
    brute-forces the unaligned excerpt×corpus pairs."""
    from dwh_spark.multimodal.perceptual import (
        video_dhash_frames,
        video_offset_vote_probe,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = video_dhash_frames(_video_snippet_fixture(docs, base=True, snippets=False))
    queries_fp = video_dhash_frames(
        _video_snippet_fixture(docs, base=False, snippets=True)
    )
    matches = video_offset_vote_probe(
        index, queries_fp, max_hamming=3, min_frames=3
    )
    return matches.select(
        F.col("batch_id").alias("snippet_id"),
        F.col("index_id").alias("clip_id"),
        F.col("offset").cast("long").alias("offset_f"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


# Decoded fixture frames persist in ONE rotation slot per family
# ("av_audio", "av_video"; fixtures.hold): the capstone pools
# (pipeline_extra.py) run the audio and video arms concurrently, but
# never two queries of one family, so per-family slots never rotate a
# frame out from under a running arm while storage stays bounded at one
# live fixture per family.


def _audio_silence_offset_fixture(docs, base: bool, variants: bool):
    """Fixture for the HOT-WORD-CAPPED offset audio query: the
    _audio_offset_fixture shape with a planted 48-window SILENT pad
    leading every clip (the real-world degenerate case — digital
    silence gives every window energy 0, every sign bit 0, and every
    all-silent position the subfingerprint sub32=0 corpus-wide; seed
    prefix 'offc:' decorrelates the content from every other fixture,
    FIXTURES.md discipline). Per ten docs a HEAD-TRIMMED copy (first
    8 SILENT windows cut — the copy keeps a 40-window pad, so batch
    and index BOTH emit the hot word; id +3,000,000, %10==3) and a
    TAIL-TRIMMED + exact-2x-gain copy (last 8 content windows cut,
    id +1,000,000, %10==7; gain maps silence to silence and scales
    every content energy equally)."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)
        sil = _np.zeros(48 * 64, dtype=_np.int64)

        def clip(d: int) -> "_np.ndarray":
            wins = [sil]
            for w in range(57):
                a = (
                    int(_hashlib.md5(f"offc:{d}:{w}".encode()).hexdigest()[:4], 16)
                    % 2048
                )
                wins.append((a + j * 13) % 2048 - 1024)
            return _np.concatenate(wins).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = clip(d)
                if base:
                    rows.append((d, wav_encode(s, 1000)))
                if variants and d % 10 == 3:
                    rows.append((d + 3000000, wav_encode(s[8 * 64:], 1000)))
                if variants and d % 10 == 7:
                    doubled = (s[: 97 * 64].astype(_np.int64) * 2).astype(_np.int16)
                    rows.append((d + 1000000, wav_encode(doubled, 1000)))
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


@query(
    "av_audio_fp_offset_capped_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 48 AS n_sil,
             57 AS n_con, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 40, 57, 1 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 48, 49, 1 FROM documents
      WHERE doc_id % 10 = 7
    ),
    con AS (
      SELECT i.audio_id, i.is_new, i.n_sil + w.w AS w,
             sum((((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM ids i,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      WHERE w.w < i.n_con
      GROUP BY 1, 2, 3
    ),
    energies AS (
      SELECT audio_id, is_new, w, e FROM con
      UNION ALL
      SELECT i.audio_id, i.is_new, w.w, 0 AS e
      FROM ids i, (SELECT unnest(range(0, 48)) AS w) w
      WHERE w.w < i.n_sil
    ),
    bits AS (
      SELECT a.audio_id, a.is_new, a.w,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM energies a
      JOIN energies b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, b.is_new, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 73)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2, 3
      HAVING count(*) = 32
    ),
    wdf AS (
      SELECT word, count(*) AS df FROM sub WHERE is_new = 0 GROUP BY 1
    )
    SELECT n.audio_id AS batch_id, x.audio_id AS index_id,
           CAST(x.p - n.p AS BIGINT) AS offset_w,
           count(*) AS n_matches
    FROM sub n
    JOIN sub x ON x.word = n.word AND n.is_new = 1 AND x.is_new = 0
    JOIN wdf d ON d.word = x.word AND d.df <= 8
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
    """,
)
def av_audio_fp_offset_capped_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOT-WORD-CAPPED offset-tolerant audio ingest (VERDICT r12
    What's-wrong #2): every clip leads with 48 windows of DIGITAL
    SILENCE, so without a guard every all-silent position emits
    sub32=0 and the lookup-table equi-join funnels |silent positions|²
    pairs corpus-wide into one key — every batch clip would "match"
    every stored clip on silence alone (the planted pads alone give
    >= 8 same-offset votes per cross pair, over min_matches). The
    stored lookup table carries a per-word df column
    (multimodal/audio_fp.py:attach_subfp_df, the
    containment_posting_index pattern — append-maintainable, df only
    grows); the probe drops words with df > 8 MAP-SIDE (a filter on
    the stored column, zero per-batch aggregates —
    tests/test_offset_hot_guard.py pins the plan), which kills the
    silence word AND the low-entropy silence-boundary words while the
    md5-seeded content words (df ~= 1) keep voting: head-trimmed
    copies still match their base at offset_w=8, tail-trimmed+gain
    copies at offset_w=0, and no cross pair survives. The oracle
    re-derives energies -> sign bits -> words, computes the SAME
    per-word df over the index side, and applies the SAME df <= 8
    cap before its brute-force join. The df <= 8 constant is the
    operators/caps.py:calibrate_cap output for this word space
    (av_audio_fp_cap_calibration pins cap=4 at margin 4 x natural
    q99 df=1; 8 = the same rule at margin 8) — production recipe:
    stats -> calibrate_cap -> cap_report BEFORE enabling the cap."""
    from dwh_spark.multimodal.audio_fp import (
        attach_subfp_df,
        audio_offset_incremental_ingest,
        audio_subfingerprint_frame,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    # the subfp frame feeds attach_subfp_df's groupBy AND its join —
    # persist so the WAV corpus is decoded once, not twice (ADVICE
    # r13; same rotation discipline as the video twin above)
    subfps = audio_subfingerprint_frame(
        _audio_silence_offset_fixture(docs, base=True, variants=False)
    )
    (subfps,) = hold("av_audio", subfps)
    index = attach_subfp_df(subfps)
    batch = _audio_silence_offset_fixture(docs, base=False, variants=True)
    matches = audio_offset_incremental_ingest(
        index, batch, min_matches=5, max_word_freq=8
    )
    return matches.select(
        "batch_id",
        "index_id",
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )


def _video_black_offset_fixture(docs, base: bool, variants: bool):
    """Fixture for the HOT-BLOCK-CAPPED offset video query: per doc a
    REAL uncompressed AVI of 4 BLACK frames (uniform tone — the
    real-world degenerate case: dhash 0, every 14-bit block value 0
    corpus-wide) followed by 5 md5-grid content frames (seed prefix
    'vblk:' decorrelates from every other fixture). Per ten docs a
    HEAD-DROPPED copy (first BLACK frame cut — batch and index BOTH
    keep black frames, so both emit the hot block value;
    id +3,000,000, %10==3) and a head-dropped copy with one cell
    flipped in content frame 2 (id +1,000,000, %10==7 — the flip
    moves <= 2 dHash bits, so the edited frame still votes and the
    edit shows in total_hamming)."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        black = _np.full((8, 8, 3), 50, _np.uint8)

        def grid(b: int, f: int, flip: bool) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"vblk:{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            if flip:
                g[b % 8, (b // 8) % 8] ^= 1
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        def video(b: int, head_drop: bool, edit: bool):
            frames = [black] * 4 + [
                grid(b, f, flip=edit and f == 2) for f in range(5)
            ]
            if head_drop:
                frames = frames[1:]
            return codecs.avi_encode(_np.stack(frames)), len(frames)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if base:
                    v, n = video(d, False, False)
                    out.append((d, n, v))
                if variants and d % 10 == 3:
                    v, n = video(d, True, False)
                    out.append((d + 3000000, n, v))
                if variants and d % 10 == 7:
                    v, n = video(d, True, True)
                    out.append((d + 1000000, n, v))
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


@query(
    "av_video_phash_offset_capped_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head,
             0 AS edit, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0, 1 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 1, 1, 1 FROM documents
      WHERE doc_id % 10 = 7
    ),
    cells AS (
      SELECT i.video_id, i.is_new, f.f + 4 - i.drop_head AS f, g.r, g.c,
             ((('0x' || substr(md5('vblk:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.edit = 1 AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.video_id, b1.is_new, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2, 3
      UNION ALL
      SELECT i.video_id, i.is_new, f.f - i.drop_head AS f, 0 AS h
      FROM ids i, (SELECT unnest(range(0, 4)) AS f) f
      WHERE f.f >= i.drop_head
    ),
    xb AS (
      SELECT h.video_id, h.f, h.h, b.i,
             CAST((h.h >> (b.i * 14)) & 16383 AS BIGINT) AS val
      FROM hashes h, (SELECT unnest(range(0, 4)) AS i) b
      WHERE h.is_new = 0
    ),
    nb AS (
      SELECT h.video_id, h.f, h.h, b.i,
             CAST((h.h >> (b.i * 14)) & 16383 AS BIGINT) AS val
      FROM hashes h, (SELECT unnest(range(0, 4)) AS i) b
      WHERE h.is_new = 1
    ),
    bdf AS (
      SELECT i, val, count(*) AS df FROM xb GROUP BY 1, 2
    ),
    cand AS (
      SELECT DISTINCT n.video_id AS batch_id, n.f AS f_n, n.h AS h_n,
                      x.video_id AS index_id, x.f AS f_x, x.h AS h_x
      FROM nb n
      JOIN xb x ON x.i = n.i AND x.val = n.val
      JOIN bdf d ON d.i = x.i AND d.val = x.val AND d.df <= 8
    ),
    frame_matches AS (
      SELECT batch_id, index_id, f_x - f_n AS offset_f,
             bit_count(xor(h_n, h_x)) AS hamming
      FROM cand
      WHERE bit_count(xor(h_n, h_x)) <= 3
    )
    SELECT batch_id, index_id, CAST(offset_f AS BIGINT) AS offset_f,
           count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_matches GROUP BY 1, 2, 3 HAVING count(*) >= 3
    """,
)
def av_video_phash_offset_capped_ingest(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """HOT-BLOCK-CAPPED offset-tolerant video ingest (VERDICT r12
    What's-wrong #2): every video leads with 4 BLACK frames, so
    without a guard every black frame hashes to dhash=0 and the
    offset probe — which dropped the frame_ix join key that bounded
    the aligned form's buckets — funnels every (block, 0) posting
    corpus-wide into four hot keys; the planted pads alone give 3
    same-offset votes per cross pair, over min_frames. The guard is
    the STORED block-stats table
    (multimodal/perceptual.py:video_block_df — bounded at
    n_blocks x 2^14 rows, append-maintainable), from which the probe
    anti-joins the over-cap (i, val) set BROADCAST off the streamed
    index side (df > 8 dropped; zero per-batch aggregates, zero added
    shuffles — tests/test_offset_hot_guard.py pins the plan). The
    md5-grid content frames keep voting: head-dropped copies match
    their base at offset_f=1 with all 5 content frames, the edited
    variant keeps all 5 votes with the flip in total_hamming, and no
    cross pair survives. The oracle re-derives every frame hash,
    splits it into the SAME 14-bit blocks, computes the SAME
    per-(block, value) df over the index side, and applies the SAME
    df <= 8 cap before its brute-force unaligned join. Cap constants
    come from the operators/caps.py:calibrate_cap recipe (margin x
    natural q99 of the stats df — space-dependent: ~8 here where
    planted blocks are md5-random, ~500-1000 for a natural 2^14 block
    space at 60k frames; see av_audio_fp_cap_calibration) — run
    cap_report before enabling."""
    from dwh_spark.multimodal.perceptual import (
        video_block_df,
        video_dhash_frames,
        video_offset_vote_probe,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = video_dhash_frames(
        _video_black_offset_fixture(docs, base=True, variants=False)
    )
    (index,) = hold("av_video", index)
    stats = video_block_df(index)
    batch = _video_black_offset_fixture(docs, base=False, variants=True)
    matches = video_offset_vote_probe(
        index,
        video_dhash_frames(batch),
        max_hamming=3,
        min_frames=3,
        max_block_freq=8,
        block_df=stats,
    )
    return matches.select(
        "batch_id",
        "index_id",
        F.col("offset").cast("long").alias("offset_f"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


def _audio_corpus_fixture(docs, base: bool = True, variants: bool = True,
                          novel: bool = False):
    """Fixture for the AUDIO corpus-build capstone and its triage
    twin (seed prefix 'acb:' / novel 'acbN:', decorrelated per
    FIXTURES.md): per doc a 57-window md5-energy clip; per ten docs
    one variant of each dedup class — an EXACT byte copy (%10==2,
    id +1,000,000), a 2x-GAIN copy (%10==4, +2,000,000 — byte-new,
    whole-clip fingerprint identical), a LOOP-SHIFTED copy (%10==6,
    +3,000,000 — the clip cyclically rotated by 8 windows, the
    "same song, different start point" class: length unchanged, so
    the whole-clip hash re-derives over rotated windows and
    diverges, while 17 of 25 subfingerprint words survive at offset
    8), a FLAT clip (%10==8, +4,000,000 — constant samples, every
    window energy equal: the quality-gate class), and a TRUNCATED
    header (%10==0, +5,000,000 — undecodable). ``novel`` adds a
    brand-new clip per %10==5 doc (+6,000,000, seed 'acbN:') for the
    triage's 'kept' arm."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)

        def clip(d: int, prefix: str) -> "_np.ndarray":
            wins = []
            for w in range(57):
                a = (
                    int(
                        _hashlib.md5(f"{prefix}{d}:{w}".encode()).hexdigest()[:4],
                        16,
                    )
                    % 2048
                )
                wins.append((a + j * 13) % 2048 - 1024)
            return _np.concatenate(wins).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = clip(d, "acb:")
                wav = wav_encode(s, 1000)
                if base:
                    rows.append((d, wav))
                if variants and d % 10 == 2:
                    rows.append((d + 1000000, wav))
                if variants and d % 10 == 4:
                    g = (s.astype(_np.int64) * 2).astype(_np.int16)
                    rows.append((d + 2000000, wav_encode(g, 1000)))
                if variants and d % 10 == 6:
                    sh = _np.concatenate([s[8 * 64:], s[: 8 * 64]])
                    rows.append((d + 3000000, wav_encode(sh, 1000)))
                if variants and d % 10 == 8:
                    flat = _np.full(57 * 64, 100 + d % 800, _np.int16)
                    rows.append((d + 4000000, wav_encode(flat, 1000)))
                if variants and d % 10 == 0:
                    rows.append((d + 5000000, wav[:24]))
                if novel and d % 10 == 5:
                    rows.append((d + 6000000, wav_encode(clip(d, "acbN:"), 1000)))
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


def _audio_feature_frame(audio):
    """ONE Arrow pass per audio corpus: (audio_id, bmd5, ok, afp,
    n_lv, words) — content md5, decode-try, 56-bit whole-clip energy
    fingerprint, distinct-window-energy count (the quality gate: a
    flat/silent clip has one energy level), and the full H-K
    subfingerprint word list as an array (~25 x 8 B for a 57-window
    clip — O(positions), never samples). Blobs cross to Python
    exactly once; the persisted frame feeds every downstream stage —
    the hash index, whole-clip fingerprint index, and offset lookup
    table are column subsets / posexplodes of it (the audio analog of
    plans/images.py:_imgs_feature_frame)."""

    def feat(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from dwh_spark.multimodal.audio import wav_decode
        from dwh_spark.multimodal.audio_fp import (
            _N_WINDOWS,
            energy_fp56,
            subfingerprints,
        )

        for pdf in batches:
            out = []
            for k, c in zip(pdf["audio_id"], pdf["content"]):
                data = bytes(c)
                bmd5 = hashlib.md5(data).hexdigest()
                try:
                    samples, _rate = wav_decode(data)
                    flat = np.asarray(samples).reshape(-1).astype(np.int64)
                    win = len(flat) // _N_WINDOWS
                    sq = (
                        (flat[: win * _N_WINDOWS].reshape(_N_WINDOWS, win) ** 2)
                        .sum(axis=1)
                    )
                    out.append(
                        (
                            int(k),
                            bmd5,
                            True,
                            energy_fp56(samples),
                            int(len(np.unique(sq))),
                            [w for _, w in subfingerprints(samples)],
                        )
                    )
                except Exception:  # noqa: BLE001 — decode failure routes out
                    out.append((int(k), bmd5, False, None, None, None))
            # nullable Int64 arrays, NOT a plain DataFrame: pandas
            # coerces an int column containing None to float64, and a
            # 56-bit fingerprint above 2^53 silently loses its low
            # bits there (one undecodable row in a batch corrupted
            # every fingerprint in it — hamming-0 gain copies stopped
            # matching their base)
            yield pd.DataFrame(
                {
                    "audio_id": pd.array(
                        [r[0] for r in out], dtype="int64"
                    ),
                    "bmd5": [r[1] for r in out],
                    "ok": [r[2] for r in out],
                    "afp": pd.array([r[3] for r in out], dtype="Int64"),
                    "n_lv": pd.array([r[4] for r in out], dtype="Int64"),
                    "words": [r[5] for r in out],
                }
            )

    return audio.mapInPandas(
        feat,
        "audio_id long, bmd5 string, ok boolean, afp long, n_lv long, "
        "words array<long>",
    )


_AV_AUDIO_CORPUS_ORACLE_BODY = """
    eb AS (
      SELECT d.doc_id, w.w,
             sum((((('0x' || substr(md5('acb:' || CAST(d.doc_id AS VARCHAR)
                                    || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('acb:' || CAST(d.doc_id AS VARCHAR)
                                    || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM documents d,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2
    ),
    clip_e AS (
      SELECT i.audio_id, w.w,
             eb.e * CASE WHEN i.kind = 'gain' THEN 4 ELSE 1 END AS e
      FROM ids i
      JOIN (SELECT unnest(range(0, 57)) AS w) w ON true
      JOIN eb ON eb.doc_id = i.base
             AND eb.w = (w.w + CASE WHEN i.kind = 'shift' THEN 8 ELSE 0 END) % 57
      WHERE i.kind IN ('base', 'copy', 'gain', 'shift', 'novel')
    ),
    clip_e2 AS (
      SELECT c.audio_id, c.w,
             CASE WHEN i2.kind = 'novel' THEN en.e ELSE c.e END AS e
      FROM clip_e c
      JOIN ids i2 ON i2.audio_id = c.audio_id
      LEFT JOIN (
        SELECT d.doc_id, w.w,
               sum((((('0x' || substr(md5('acbN:' || CAST(d.doc_id AS VARCHAR)
                                      || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                       % 2048 + t.j * 13) % 2048 - 1024)
                    * ((('0x' || substr(md5('acbN:' || CAST(d.doc_id AS VARCHAR)
                                      || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                       % 2048 + t.j * 13) % 2048 - 1024))) AS e
        FROM documents d,
             (SELECT unnest(range(0, 57)) AS w) w,
             (SELECT unnest(range(0, 64)) AS j) t
        WHERE d.doc_id % 10 = 5
        GROUP BY 1, 2
      ) en ON en.doc_id = i2.base AND en.w = c.w
    ),
    nlv AS (SELECT audio_id, count(DISTINCT e) AS n_lv FROM clip_e2 GROUP BY 1),
    pats AS (
      SELECT audio_id,
             string_agg(CAST(e AS VARCHAR), ',' ORDER BY w) AS pat
      FROM clip_e2 GROUP BY 1
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM clip_e2 a
      JOIN clip_e2 b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    hashes AS (
      SELECT audio_id,
             CAST(sum(CASE WHEN b = 1 THEN (1::BIGINT << w) ELSE 0 END)
                  AS BIGINT) AS h
      FROM bits GROUP BY 1
    )
"""


_AV_AUDIO_CORPUS_BUILD_ORACLE = (
    """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 'base' AS kind FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 'copy' FROM documents WHERE doc_id % 10 = 2
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 'gain' FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 'shift' FROM documents WHERE doc_id % 10 = 6
      UNION ALL
      SELECT doc_id + 4000000, doc_id, 'flat' FROM documents WHERE doc_id % 10 = 8
      UNION ALL
      SELECT doc_id + 5000000, doc_id, 'trunc' FROM documents WHERE doc_id % 10 = 0
    ),
"""
    + _AV_AUDIO_CORPUS_ORACLE_BODY
    + """,
    qual AS (
      SELECT i.audio_id, p.pat, h.h
      FROM ids i
      JOIN nlv n ON n.audio_id = i.audio_id
      JOIN pats p ON p.audio_id = i.audio_id
      JOIN hashes h ON h.audio_id = i.audio_id
      WHERE n.n_lv > 1
    ),
    canon AS (
      SELECT min(audio_id) AS audio_id FROM qual GROUP BY pat
    ),
    survivors AS (
      SELECT q.audio_id, q.h FROM qual q JOIN canon USING (audio_id)
    ),
    near AS (
      SELECT DISTINCT b.audio_id
      FROM survivors a JOIN survivors b ON a.audio_id < b.audio_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
    ),
    words AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN survivors s ON s.audio_id = b.audio_id
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      WHERE b.audio_id NOT IN (SELECT audio_id FROM near)
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    offv AS (
      SELECT a.audio_id AS id_a, b.audio_id AS id_b, a.p - b.p AS o,
             count(*) AS n
      FROM words a JOIN words b
        ON b.word = a.word AND a.audio_id < b.audio_id
      GROUP BY 1, 2, 3 HAVING count(*) >= 5
    ),
    offd AS (SELECT DISTINCT id_b AS audio_id FROM offv),
    dec AS (
      SELECT i.audio_id,
             CASE WHEN i.kind = 'trunc' THEN 'undecodable'
                  WHEN i.kind = 'flat' OR n.n_lv = 1 THEN 'low_quality'
                  WHEN c.audio_id IS NULL THEN 'exact_dup'
                  WHEN nr.audio_id IS NOT NULL THEN 'near_dup'
                  WHEN o.audio_id IS NOT NULL THEN 'offset_dup'
                  WHEN (('0x' || substr(md5(CAST(i.audio_id AS VARCHAR)), 1, 8))::BIGINT
                        % 100) < 10 THEN 'test'
                  ELSE 'train' END AS decision
      FROM ids i
      LEFT JOIN nlv n ON n.audio_id = i.audio_id
      LEFT JOIN canon c ON c.audio_id = i.audio_id
      LEFT JOIN near nr ON nr.audio_id = i.audio_id
      LEFT JOIN offd o ON o.audio_id = i.audio_id
    )
    SELECT decision, count(*) AS n_clips,
           CAST(sum(audio_id) AS BIGINT) AS id_sum
    FROM dec GROUP BY 1
    """
)


@query("av_audio_corpus_build", oracle=_AV_AUDIO_CORPUS_BUILD_ORACLE)
def av_audio_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The AUDIO corpus-build capstone (VERDICT r12 missing #4) — the
    audio twin of docs_corpus_build / imgs_corpus_build, composing the
    audio perceptual family end-to-end: decode gate -> flat-clip
    quality gate -> exact byte-dedup keep-canonical -> whole-clip
    energy-fingerprint near-dup keep-canonical -> OFFSET screen
    (the stage the image capstone has no analog for: loop-shifted
    copies whose whole-clip hash diverges are caught by the H-K
    subfingerprint vote) -> reproducible hash split; output is the
    per-stage rollup (decision, n_clips, id_sum) so the oracle hash
    pins WHICH clip reached every stage.

    One Arrow pass computes everything per clip (md5, decode-try,
    whole-clip fp, energy-level count, subfingerprint words) — blobs
    cross to Python ONCE and only the ~250-byte feature row returns;
    the persisted frame feeds all five downstream consumers. Stages
    run cheapest-first over shrinking inputs: the gates are per-row,
    the exact arm is a groupBy on the content hash (map-side
    combine), the whole-clip arm is the pigeonhole blocked join over
    exact-canonical survivors, and the offset arm posexplodes ONLY
    the remaining survivors' word arrays into the lookup-table shape
    (never all-pairs — the brute-force forms exist only in the
    oracle). The oracle re-derives energies (gain = x4, shift =
    rotated window order), byte classes (the energy sequence as an
    injective pattern), whole-clip hashes, and words from doc_id
    alone."""
    from dwh_spark.multimodal.audio_fp import (
        AUDIO_FP_BITS,
        audio_offset_pairs_from_subfps,
    )
    from dwh_spark.operators.dedup import simhash_blocked_pairs
    from dwh_spark.operators.sampling import hash_bucket

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    (feats,) = hold("av_audio", _audio_feature_frame(_audio_corpus_fixture(docs)))

    qual = feats.filter(F.col("ok") & (F.col("n_lv") > 1))
    canon = qual.groupBy("bmd5").agg(F.min("audio_id").alias("audio_id"))
    exact_kept = qual.join(canon.select("audio_id"), "audio_id", "left_semi")
    pairs = simhash_blocked_pairs(
        exact_kept.select("audio_id", F.col("afp").alias("simhash")),
        key="audio_id",
        n_blocks=4,
        block_bits=AUDIO_FP_BITS // 4,
        max_hamming=3,
    )
    pruned = pairs.select(F.col("id_b").alias("audio_id")).distinct()
    offset_in = exact_kept.join(pruned, "audio_id", "left_anti")
    subfps = offset_in.select(
        "audio_id", F.posexplode("words").alias("pos", "sub32")
    )
    opairs = audio_offset_pairs_from_subfps(subfps, min_matches=5)
    offset_pruned = opairs.select(F.col("id_b").alias("audio_id")).distinct()

    decision = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(F.col("n_lv") == 1, F.lit("low_quality"))
        .when(F.col("__canon").isNull(), F.lit("exact_dup"))
        .when(F.col("__near").isNotNull(), F.lit("near_dup"))
        .when(F.col("__off").isNotNull(), F.lit("offset_dup"))
        .when(hash_bucket(F.col("audio_id")) < 10, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        feats.join(
            canon.select("audio_id").withColumn("__canon", F.lit(True)),
            "audio_id",
            "left",
        )
        .join(pruned.withColumn("__near", F.lit(True)), "audio_id", "left")
        .join(offset_pruned.withColumn("__off", F.lit(True)), "audio_id", "left")
        .withColumn("decision", decision)
        .groupBy("decision")
        .agg(
            F.count("*").alias("n_clips"),
            F.sum("audio_id").alias("id_sum"),
        )
    )


_AV_AUDIO_TRIAGE_ORACLE = (
    """
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 'base' AS kind, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 'copy', 1 FROM documents WHERE doc_id % 10 = 2
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 'gain', 1 FROM documents WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 'shift', 1 FROM documents WHERE doc_id % 10 = 6
      UNION ALL
      SELECT doc_id + 4000000, doc_id, 'flat', 1 FROM documents WHERE doc_id % 10 = 8
      UNION ALL
      SELECT doc_id + 5000000, doc_id, 'trunc', 1 FROM documents WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 6000000, doc_id, 'novel', 1 FROM documents WHERE doc_id % 10 = 5
    ),
"""
    + _AV_AUDIO_CORPUS_ORACLE_BODY
    + """,
    corpus AS (
      SELECT i.audio_id, p.pat, h.h
      FROM ids i
      JOIN nlv n ON n.audio_id = i.audio_id
      JOIN pats p ON p.audio_id = i.audio_id
      JOIN hashes h ON h.audio_id = i.audio_id
      WHERE i.is_new = 0 AND n.n_lv > 1
    ),
    exact AS (
      SELECT DISTINCT p.audio_id
      FROM pats p
      JOIN ids i ON i.audio_id = p.audio_id AND i.is_new = 1
      JOIN corpus c ON c.pat = p.pat
    ),
    near AS (
      SELECT DISTINCT hb.audio_id
      FROM hashes hb
      JOIN ids i ON i.audio_id = hb.audio_id AND i.is_new = 1
      JOIN nlv n ON n.audio_id = hb.audio_id AND n.n_lv > 1
      JOIN corpus c ON bit_count(xor(hb.h, c.h)) <= 3
      WHERE hb.audio_id NOT IN (SELECT audio_id FROM exact)
    ),
    bwords AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN ids i ON i.audio_id = b.audio_id AND i.is_new = 1
      JOIN nlv n ON n.audio_id = b.audio_id AND n.n_lv > 1
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      WHERE b.audio_id NOT IN (SELECT audio_id FROM exact)
        AND b.audio_id NOT IN (SELECT audio_id FROM near)
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    cwords AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN corpus c ON c.audio_id = b.audio_id
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    ),
    offd AS (
      SELECT DISTINCT id_b FROM (
        SELECT n.audio_id AS id_b, x.audio_id AS ix, x.p - n.p AS o,
               count(*) AS nv
        FROM bwords n JOIN cwords x ON x.word = n.word
        GROUP BY 1, 2, 3 HAVING count(*) >= 5
      )
    ),
    dec AS (
      SELECT i.audio_id,
             CASE WHEN i.kind = 'trunc' THEN 'undecodable'
                  WHEN i.kind = 'flat' OR n.n_lv = 1 THEN 'low_quality'
                  WHEN e.audio_id IS NOT NULL THEN 'exact_dup'
                  WHEN nr.audio_id IS NOT NULL THEN 'near_dup'
                  WHEN o.id_b IS NOT NULL THEN 'offset_dup'
                  ELSE 'kept' END AS decision
      FROM ids i
      LEFT JOIN nlv n ON n.audio_id = i.audio_id
      LEFT JOIN exact e ON e.audio_id = i.audio_id
      LEFT JOIN near nr ON nr.audio_id = i.audio_id
      LEFT JOIN offd o ON o.id_b = i.audio_id
      WHERE i.is_new = 1
    )
    SELECT audio_id, decision FROM dec
    """
)


@query("av_audio_corpus_ingest_triage", oracle=_AV_AUDIO_TRIAGE_ORACLE)
def av_audio_corpus_ingest_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-delta triage for the AUDIO modality — the incremental
    twin of av_audio_corpus_build (the same composition the docs and
    image modalities already have, closing the capstone matrix of
    VERDICT r12 missing #4): route each NEW clip to the FIRST
    matching decision — 'undecodable' (decode-try fails),
    'low_quality' (one energy level), 'exact_dup' (content md5 in the
    STORED corpus hash index), 'near_dup' (whole-clip fingerprint
    within hamming <= 3 of the STORED fingerprint index),
    'offset_dup' (>= 5 subfingerprint words matching the STORED H-K
    lookup table at one relative offset — the arm that catches the
    loop-shifted copies the whole-clip probe misses), else 'kept'
    (the planted brand-new clips).

    Probe discipline matches the docs/image triages exactly: all
    three stored indexes are column subsets / posexplodes of the
    corpus feature frame (built once at corpus-build time; recomputed
    here from the base fixture) and are STREAMED, never shuffled —
    the batch's hash set, fingerprint blocks, and words are BROADCAST
    into them; probes run cheapest-first over shrinking inputs, so a
    clip rejected by a cheap arm never reaches a shuffle. Per-batch
    cost is O(batch decodes + index scans + collisions); the corpus
    is never re-decoded. The oracle re-derives every decision from
    the generating arithmetic."""
    from dwh_spark.multimodal.audio_fp import (
        AUDIO_FP_BITS,
        audio_offset_vote_probe,
    )
    from dwh_spark.operators.dedup import simhash_blocked_probe

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    corpus_feats = _audio_feature_frame(
        _audio_corpus_fixture(docs, base=True, variants=False)
    )
    batch_feats = _audio_feature_frame(
        _audio_corpus_fixture(docs, base=False, variants=True, novel=True)
    )
    corpus_feats, batch_feats = hold("av_audio", corpus_feats, batch_feats)

    qual = batch_feats.filter(F.col("ok") & (F.col("n_lv") > 1))
    batch_hashes = qual.select("bmd5").distinct()
    found = (
        corpus_feats.select("bmd5")
        .join(F.broadcast(batch_hashes), "bmd5")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    survivors = qual.join(F.broadcast(found.select("bmd5")), "bmd5", "left_anti")
    near = (
        simhash_blocked_probe(
            corpus_feats.select("audio_id", F.col("afp").alias("simhash")),
            survivors.select("audio_id", F.col("afp").alias("simhash")),
            key="audio_id",
            n_blocks=4,
            block_bits=AUDIO_FP_BITS // 4,
            max_hamming=3,
        )
        .select(F.col("batch_id").alias("audio_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    surv2 = survivors.join(near.select("audio_id"), "audio_id", "left_anti")
    offd = (
        audio_offset_vote_probe(
            corpus_feats.select(
                "audio_id", F.posexplode("words").alias("pos", "sub32")
            ),
            surv2.select(
                "audio_id", F.posexplode("words").alias("pos", "sub32")
            ),
            min_matches=5,
        )
        .select(F.col("batch_id").alias("audio_id"))
        .distinct()
        .withColumn("__off", F.lit(True))
    )
    decision = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(F.col("n_lv") == 1, F.lit("low_quality"))
        .when(F.col("__exact"), F.lit("exact_dup"))
        .when(F.col("__near"), F.lit("near_dup"))
        .when(F.col("__off"), F.lit("offset_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        batch_feats.join(F.broadcast(found), "bmd5", "left")
        .join(near, "audio_id", "left")
        .join(offd, "audio_id", "left")
        .withColumn("decision", decision)
        .select("audio_id", "decision")
    )


def _video_corpus_fixture(docs, base: bool = True, variants: bool = True,
                          novel: bool = False):
    """Fixture for the VIDEO corpus-build capstone and its triage twin
    (seed 'vcb:' / novel 'vcbN:', decorrelated per FIXTURES.md): per
    doc a REAL 5-frame uncompressed AVI of 8x8 two-tone md5-grid
    frames; per ten docs one variant of each dedup class — an EXACT
    byte copy (%10==2, +1,000,000), an EDIT copy (%10==4, +2,000,000
    — one cell flipped in frame 2: four frames identical, the edited
    frame within hamming 2, the temporally-ALIGNED near-dup class), a
    HEAD-DROPPED copy (%10==6, +3,000,000 — frame 0 cut: invisible to
    aligned voting, the OFFSET class), a BLACK video (%10==8,
    +4,000,000 — every frame uniform: zero contrast, the quality-gate
    class), and a TRUNCATED header (%10==0, +5,000,000). ``novel``
    adds a brand-new video per %10==5 doc (+6,000,000, 'vcbN:') for
    the triage's 'kept' arm."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(b: int, f: int, flip: bool, prefix: str) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"{prefix}{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            if flip:
                g[b % 8, (b // 8) % 8] ^= 1
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        def video(b: int, head_drop: bool = False, edit: bool = False,
                  prefix: str = "vcb:"):
            frames = [
                grid(b, f, flip=edit and f == 2, prefix=prefix)
                for f in range(5)
            ]
            if head_drop:
                frames = frames[1:]
            return codecs.avi_encode(_np.stack(frames)), len(frames)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                v, n = video(d)
                if base:
                    out.append((d, n, v))
                if variants and d % 10 == 2:
                    out.append((d + 1000000, n, v))
                if variants and d % 10 == 4:
                    ve, ne = video(d, edit=True)
                    out.append((d + 2000000, ne, ve))
                if variants and d % 10 == 6:
                    vd, nd = video(d, head_drop=True)
                    out.append((d + 3000000, nd, vd))
                if variants and d % 10 == 8:
                    blk = _np.full((5, 8, 8, 3), 50, _np.uint8)
                    out.append((d + 4000000, 5, codecs.avi_encode(blk)))
                if variants and d % 10 == 0:
                    out.append((d + 5000000, n, v[:16]))
                if novel and d % 10 == 5:
                    vn, nn = video(d, prefix="vcbN:")
                    out.append((d + 6000000, nn, vn))
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


def _video_feature_frame(videos):
    """ONE Arrow pass per video corpus: (video_id, bmd5, ok, contrast,
    dhashes) — content md5, decode-try, max per-frame 8x8-grid luma
    contrast (the quality gate: a black video has zero), and the
    ordered per-frame 56-bit dHash list as an array (frame_ix = array
    index; ~8 B per frame, never pixels). Blobs cross to Python
    exactly once; the persisted frame feeds every downstream stage —
    the hash index and the per-frame fingerprint index are column
    subsets / posexplodes of it (the video analog of
    plans/images.py:_imgs_feature_frame). Nullable Int64 discipline
    applies (see _audio_feature_frame)."""

    def feat(batches):
        import hashlib

        import numpy as np
        import pandas as pd

        from dwh_spark.multimodal import codecs
        from dwh_spark.multimodal.perceptual import area_downscale, dhash56

        for pdf in batches:
            out = []
            for k, n, c in zip(pdf["video_id"], pdf["n_frames"], pdf["content"]):
                data = bytes(c)
                bmd5 = hashlib.md5(data).hexdigest()
                try:
                    contrast = 0
                    hashes = []
                    for ix in range(int(n)):
                        arr = codecs.avi_decode_frame(data, ix)
                        gray = (
                            0.299 * arr[:, :, 0].astype(np.float64)
                            + 0.587 * arr[:, :, 1].astype(np.float64)
                            + 0.114 * arr[:, :, 2].astype(np.float64)
                        )
                        g = area_downscale(gray, 8, 8)
                        contrast = max(contrast, int(round(g.max() - g.min())))
                        hashes.append(dhash56(arr))
                    out.append((int(k), bmd5, True, contrast, hashes))
                except Exception:  # noqa: BLE001 — decode failure routes out
                    out.append((int(k), bmd5, False, None, None))
            yield pd.DataFrame(
                {
                    "video_id": pd.array([r[0] for r in out], dtype="int64"),
                    "bmd5": [r[1] for r in out],
                    "ok": [r[2] for r in out],
                    "contrast": pd.array([r[3] for r in out], dtype="Int64"),
                    "dhashes": [r[4] for r in out],
                }
            )

    return videos.mapInPandas(
        feat,
        "video_id long, bmd5 string, ok boolean, contrast long, "
        "dhashes array<long>",
    )


_AV_VIDEO_CORPUS_ORACLE_BODY = """
    cells AS (
      SELECT i.video_id, i.is_new, i.kind,
             f.f - i.drop_head AS f, g.r, g.c,
             ((('0x' || substr(md5(CASE WHEN i.kind = 'novel'
                                        THEN 'vcbN:' ELSE 'vcb:' END
                                  || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT
               + CASE WHEN i.kind = 'edit' AND f.f = 2 AND g.r = i.base % 8
                       AND g.c = (i.base // 8) % 8 THEN 1 ELSE 0 END)
              % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE i.kind IN ('base', 'copy', 'edit', 'drop', 'novel')
        AND f.f >= i.drop_head
    ),
    nlv AS (
      -- max per-FRAME tone count: the Spark quality gate is
      -- contrast > 0, and contrast is the MAX over frames of the
      -- frame's luma range — zero iff every frame is uniform
      SELECT video_id, max(flv) AS n_lv
      FROM (SELECT video_id, f, count(DISTINCT b) AS flv
            FROM cells GROUP BY 1, 2)
      GROUP BY 1
    ),
    pats AS (
      SELECT video_id,
             string_agg(CAST(b AS VARCHAR), '' ORDER BY f, r, c) AS pat
      FROM cells GROUP BY 1
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    )
"""


_AV_VIDEO_CORPUS_BUILD_ORACLE = (
    """
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 'base' AS kind,
             0 AS drop_head
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 'copy', 0 FROM documents
      WHERE doc_id % 10 = 2
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 'edit', 0 FROM documents
      WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 'drop', 1 FROM documents
      WHERE doc_id % 10 = 6
      UNION ALL
      SELECT doc_id + 4000000, doc_id, 'flat', 0 FROM documents
      WHERE doc_id % 10 = 8
      UNION ALL
      SELECT doc_id + 5000000, doc_id, 'trunc', 0 FROM documents
      WHERE doc_id % 10 = 0
    ),
    ids2 AS (SELECT video_id, base, kind, drop_head, 0 AS is_new FROM ids),
"""
    + _AV_VIDEO_CORPUS_ORACLE_BODY.replace("FROM ids i", "FROM ids2 i")
    + """,
    qual AS (
      SELECT i.video_id, p.pat
      FROM ids i
      JOIN nlv n ON n.video_id = i.video_id
      JOIN pats p ON p.video_id = i.video_id
      WHERE n.n_lv > 1
    ),
    canon AS (
      SELECT min(video_id) AS video_id FROM qual GROUP BY pat
    ),
    survivors AS (
      SELECT q.video_id FROM qual q JOIN canon USING (video_id)
    ),
    aligned AS (
      SELECT DISTINCT id_b FROM (
        SELECT a.video_id AS id_a, b.video_id AS id_b, count(*) AS nv
        FROM hashes a
        JOIN survivors sa ON sa.video_id = a.video_id
        JOIN hashes b ON b.f = a.f AND a.video_id < b.video_id
                     AND bit_count(xor(a.h, b.h)) <= 3
        JOIN survivors sb ON sb.video_id = b.video_id
        GROUP BY 1, 2 HAVING count(*) >= 3
      )
    ),
    offd AS (
      SELECT DISTINCT id_b FROM (
        SELECT a.video_id AS id_a, b.video_id AS id_b, a.f - b.f AS o,
               count(*) AS nv
        FROM hashes a
        JOIN survivors sa ON sa.video_id = a.video_id
        JOIN hashes b ON a.video_id < b.video_id
                     AND bit_count(xor(a.h, b.h)) <= 3
        JOIN survivors sb ON sb.video_id = b.video_id
        WHERE a.video_id NOT IN (SELECT id_b FROM aligned)
          AND b.video_id NOT IN (SELECT id_b FROM aligned)
        GROUP BY 1, 2, 3 HAVING count(*) >= 3
      )
    ),
    dec AS (
      SELECT i.video_id,
             CASE WHEN i.kind = 'trunc' THEN 'undecodable'
                  WHEN i.kind = 'flat' OR n.n_lv = 1 THEN 'low_quality'
                  WHEN c.video_id IS NULL THEN 'exact_dup'
                  WHEN al.id_b IS NOT NULL THEN 'near_dup'
                  WHEN o.id_b IS NOT NULL THEN 'offset_dup'
                  WHEN (('0x' || substr(md5(CAST(i.video_id AS VARCHAR)), 1, 8))::BIGINT
                        % 100) < 10 THEN 'test'
                  ELSE 'train' END AS decision
      FROM ids i
      LEFT JOIN nlv n ON n.video_id = i.video_id
      LEFT JOIN canon c ON c.video_id = i.video_id
      LEFT JOIN aligned al ON al.id_b = i.video_id
      LEFT JOIN offd o ON o.id_b = i.video_id
    )
    SELECT decision, count(*) AS n_videos,
           CAST(sum(video_id) AS BIGINT) AS id_sum
    FROM dec GROUP BY 1
    """
)


@query("av_video_corpus_build", oracle=_AV_VIDEO_CORPUS_BUILD_ORACLE)
def av_video_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The VIDEO corpus-build capstone (VERDICT r12 missing #4) — the
    video twin of imgs_corpus_build / av_audio_corpus_build, composing
    the video perceptual family end-to-end: decode gate -> black-video
    quality gate (zero max frame contrast) -> exact byte-dedup
    keep-canonical -> temporally-ALIGNED frame-vote near-dup
    keep-canonical (the edit class: four identical frames carry the
    vote) -> OFFSET screen (head-dropped copies invisible to aligned
    voting match at offset 1) -> reproducible hash split; output is
    the per-stage rollup (decision, n_videos, id_sum).

    One Arrow pass computes everything per video (md5, decode-try,
    per-frame dHash list, max frame contrast) — blobs cross to Python
    ONCE and only ~8 B/frame returns; the persisted frame feeds all
    five consumers, with the per-frame index recovered by a
    posexplode (pure JVM, no re-decode). The aligned arm joins per
    (frame_ix, block); the offset arm drops the frame_ix key over the
    REMAINING survivors only (both pigeonhole-blocked, never
    all-pairs — brute force exists only in the oracle). The oracle
    re-derives grids, per-frame hashes, byte classes (the cell
    pattern as an injective encoding), both vote forms, and the split
    from doc_id alone."""
    from dwh_spark.multimodal.perceptual import (
        video_aligned_pairs_from_frames,
        video_offset_pairs_from_frames,
    )
    from dwh_spark.operators.sampling import hash_bucket

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    (feats,) = hold("av_video", _video_feature_frame(_video_corpus_fixture(docs)))

    qual = feats.filter(F.col("ok") & (F.col("contrast") > 0))
    canon = qual.groupBy("bmd5").agg(F.min("video_id").alias("video_id"))
    exact_kept = qual.join(canon.select("video_id"), "video_id", "left_semi")
    frames = exact_kept.select(
        "video_id", F.posexplode("dhashes").alias("frame_ix", "dhash")
    )
    aligned = (
        video_aligned_pairs_from_frames(frames, max_hamming=3, min_frames=3)
        .select(F.col("id_b").alias("video_id"))
        .distinct()
    )
    remaining = frames.join(aligned, "video_id", "left_anti")
    offp = (
        video_offset_pairs_from_frames(remaining, max_hamming=3)
        .groupBy("id_a", "id_b", (F.col("f_a") - F.col("f_b")).alias("o"))
        .agg(F.count("*").alias("nv"))
        .filter(F.col("nv") >= 3)
        .select(F.col("id_b").alias("video_id"))
        .distinct()
    )
    decision = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(F.col("contrast") == 0, F.lit("low_quality"))
        .when(F.col("__canon").isNull(), F.lit("exact_dup"))
        .when(F.col("__near").isNotNull(), F.lit("near_dup"))
        .when(F.col("__off").isNotNull(), F.lit("offset_dup"))
        .when(hash_bucket(F.col("video_id")) < 10, F.lit("test"))
        .otherwise(F.lit("train"))
    )
    return (
        feats.join(
            canon.select("video_id").withColumn("__canon", F.lit(True)),
            "video_id",
            "left",
        )
        .join(aligned.withColumn("__near", F.lit(True)), "video_id", "left")
        .join(offp.withColumn("__off", F.lit(True)), "video_id", "left")
        .withColumn("decision", decision)
        .groupBy("decision")
        .agg(
            F.count("*").alias("n_videos"),
            F.sum("video_id").alias("id_sum"),
        )
    )


_AV_VIDEO_TRIAGE_ORACLE = (
    """
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 'base' AS kind,
             0 AS drop_head, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 'copy', 0, 1 FROM documents
      WHERE doc_id % 10 = 2
      UNION ALL
      SELECT doc_id + 2000000, doc_id, 'edit', 0, 1 FROM documents
      WHERE doc_id % 10 = 4
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 'drop', 1, 1 FROM documents
      WHERE doc_id % 10 = 6
      UNION ALL
      SELECT doc_id + 4000000, doc_id, 'flat', 0, 1 FROM documents
      WHERE doc_id % 10 = 8
      UNION ALL
      SELECT doc_id + 5000000, doc_id, 'trunc', 0, 1 FROM documents
      WHERE doc_id % 10 = 0
      UNION ALL
      SELECT doc_id + 6000000, doc_id, 'novel', 0, 1 FROM documents
      WHERE doc_id % 10 = 5
    ),
"""
    + _AV_VIDEO_CORPUS_ORACLE_BODY
    + """,
    corpus AS (
      SELECT i.video_id, p.pat
      FROM ids i
      JOIN nlv n ON n.video_id = i.video_id
      JOIN pats p ON p.video_id = i.video_id
      WHERE i.is_new = 0 AND n.n_lv > 1
    ),
    exact AS (
      SELECT DISTINCT p.video_id
      FROM pats p
      JOIN ids i ON i.video_id = p.video_id AND i.is_new = 1
      JOIN corpus c ON c.pat = p.pat
    ),
    aligned AS (
      SELECT DISTINCT id_b FROM (
        SELECT n.video_id AS id_b, x.video_id AS ix, count(*) AS nv
        FROM hashes n
        JOIN ids i ON i.video_id = n.video_id AND i.is_new = 1
        JOIN nlv q ON q.video_id = n.video_id AND q.n_lv > 1
        JOIN hashes x ON x.f = n.f AND bit_count(xor(n.h, x.h)) <= 3
        JOIN corpus c ON c.video_id = x.video_id
        WHERE n.video_id NOT IN (SELECT video_id FROM exact)
        GROUP BY 1, 2 HAVING count(*) >= 3
      )
    ),
    offd AS (
      SELECT DISTINCT id_b FROM (
        SELECT n.video_id AS id_b, x.video_id AS ix, x.f - n.f AS o,
               count(*) AS nv
        FROM hashes n
        JOIN ids i ON i.video_id = n.video_id AND i.is_new = 1
        JOIN nlv q ON q.video_id = n.video_id AND q.n_lv > 1
        JOIN hashes x ON bit_count(xor(n.h, x.h)) <= 3
        JOIN corpus c ON c.video_id = x.video_id
        WHERE n.video_id NOT IN (SELECT video_id FROM exact)
          AND n.video_id NOT IN (SELECT id_b FROM aligned)
        GROUP BY 1, 2, 3 HAVING count(*) >= 3
      )
    ),
    dec AS (
      SELECT i.video_id,
             CASE WHEN i.kind = 'trunc' THEN 'undecodable'
                  WHEN i.kind = 'flat' OR n.n_lv = 1 THEN 'low_quality'
                  WHEN e.video_id IS NOT NULL THEN 'exact_dup'
                  WHEN al.id_b IS NOT NULL THEN 'near_dup'
                  WHEN o.id_b IS NOT NULL THEN 'offset_dup'
                  ELSE 'kept' END AS decision
      FROM ids i
      LEFT JOIN nlv n ON n.video_id = i.video_id
      LEFT JOIN exact e ON e.video_id = i.video_id
      LEFT JOIN aligned al ON al.id_b = i.video_id
      LEFT JOIN offd o ON o.id_b = i.video_id
      WHERE i.is_new = 1
    )
    SELECT video_id, decision FROM dec
    """
)


@query("av_video_corpus_ingest_triage", oracle=_AV_VIDEO_TRIAGE_ORACLE)
def av_video_corpus_ingest_triage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily-delta triage for the VIDEO modality — the incremental
    twin of av_video_corpus_build, completing the corpus-build /
    triage matrix across all four modalities (docs, images, audio,
    video; VERDICT r12 missing #4): route each NEW video to the FIRST
    matching decision — 'undecodable' (decode-try fails),
    'low_quality' (zero max frame contrast), 'exact_dup' (content md5
    in the STORED corpus hash index), 'near_dup' (temporally-aligned
    frame vote against the STORED per-frame fingerprint index — the
    edit class), 'offset_dup' (relative-offset frame vote — the
    head-drop class the aligned probe misses by construction), else
    'kept' (the planted brand-new videos).

    Probe discipline matches the docs/image/audio triages exactly:
    both stored indexes are column subsets / posexplodes of the
    corpus feature frame and are STREAMED, never shuffled — the
    batch's hash set and per-frame blocks are BROADCAST into them
    (multimodal/perceptual.py:video_frame_vote_probe /
    video_offset_vote_probe); probes run cheapest-first over
    shrinking inputs. Per-batch cost is O(batch decodes + index scans
    + collisions); the corpus is never re-decoded. The oracle
    re-derives every decision from the generating arithmetic."""
    from dwh_spark.multimodal.perceptual import (
        video_frame_vote_probe,
        video_offset_vote_probe,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    corpus_feats = _video_feature_frame(
        _video_corpus_fixture(docs, base=True, variants=False)
    )
    batch_feats = _video_feature_frame(
        _video_corpus_fixture(docs, base=False, variants=True, novel=True)
    )
    corpus_feats, batch_feats = hold("av_video", corpus_feats, batch_feats)

    qual = batch_feats.filter(F.col("ok") & (F.col("contrast") > 0))
    batch_hashes = qual.select("bmd5").distinct()
    found = (
        corpus_feats.select("bmd5")
        .join(F.broadcast(batch_hashes), "bmd5")
        .distinct()
        .withColumn("__exact", F.lit(True))
    )
    survivors = qual.join(F.broadcast(found.select("bmd5")), "bmd5", "left_anti")
    corpus_frames = corpus_feats.select(
        "video_id", F.posexplode("dhashes").alias("frame_ix", "dhash")
    )
    surv_frames = survivors.select(
        "video_id", F.posexplode("dhashes").alias("frame_ix", "dhash")
    )
    near = (
        video_frame_vote_probe(
            corpus_frames, surv_frames, max_hamming=3, min_frames=3
        )
        .select(F.col("batch_id").alias("video_id"))
        .distinct()
        .withColumn("__near", F.lit(True))
    )
    surv2_frames = surv_frames.join(
        near.select("video_id"), "video_id", "left_anti"
    )
    offd = (
        video_offset_vote_probe(
            corpus_frames, surv2_frames, max_hamming=3, min_frames=3
        )
        .select(F.col("batch_id").alias("video_id"))
        .distinct()
        .withColumn("__off", F.lit(True))
    )
    decision = (
        F.when(~F.col("ok"), F.lit("undecodable"))
        .when(F.col("contrast") == 0, F.lit("low_quality"))
        .when(F.col("__exact"), F.lit("exact_dup"))
        .when(F.col("__near"), F.lit("near_dup"))
        .when(F.col("__off"), F.lit("offset_dup"))
        .otherwise(F.lit("kept"))
    )
    return (
        batch_feats.join(F.broadcast(found), "bmd5", "left")
        .join(near, "video_id", "left")
        .join(offd, "video_id", "left")
        .withColumn("decision", decision)
        .select("video_id", "decision")
    )


def _video_drift_fixture(docs, base: bool, variants: bool):
    """Fixture for the TIME-BANDED offset query: per doc a REAL
    8-frame AVI of md5-grid frames (seed 'vdrf:'); per ten docs a
    SMALL-DRIFT copy (first frame cut -> offset 1, inside a
    max_offset=2 band; id +3,000,000, %10==3) and a LARGE-DRIFT copy
    (first FOUR frames cut -> offset 4, outside the band but still
    carrying 4 matchable frames; id +1,000,000, %10==7) — the pair
    the unbanded vote finds and the banded contract excludes."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(b: int, f: int) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"vdrf:{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        def video(b: int, drop: int):
            frames = [grid(b, f) for f in range(8)][drop:]
            return codecs.avi_encode(_np.stack(frames)), len(frames)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if base:
                    v, n = video(d, 0)
                    out.append((d, n, v))
                if variants and d % 10 == 3:
                    v, n = video(d, 1)
                    out.append((d + 3000000, n, v))
                if variants and d % 10 == 7:
                    v, n = video(d, 4)
                    out.append((d + 1000000, n, v))
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


@query(
    "av_video_phash_offset_banded_near_dups",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1 FROM documents WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 4 FROM documents WHERE doc_id % 10 = 7
    ),
    cells AS (
      SELECT i.video_id, f.f - i.drop_head AS f, g.r, g.c,
             (('0x' || substr(md5('vdrf:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT % 2) AS b
      FROM ids i,
           (SELECT unnest(range(0, 8)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.drop_head
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
    ),
    frame_matches AS (
      SELECT a.video_id AS id_a, b.video_id AS id_b,
             a.f - b.f AS offset_f,
             bit_count(xor(a.h, b.h)) AS hamming
      FROM hashes a JOIN hashes b ON a.video_id < b.video_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
        AND abs(a.f - b.f) <= 2
    )
    SELECT id_a, id_b, CAST(offset_f AS BIGINT) AS offset_f,
           count(*) AS n_frames_matched,
           CAST(sum(hamming) AS BIGINT) AS total_hamming
    FROM frame_matches GROUP BY 1, 2, 3 HAVING count(*) >= 3
    """,
)
def av_video_phash_offset_banded_near_dups(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """TIME-BANDED offset-tolerant video near-dups (VERDICT r12 next
    #4, the oracle-gated binding of the composition): the coarse
    frame-time band of width ``max_offset`` joins as an EQUI key
    beside the (block, value) key, bounding each bucket to ~3 bands
    of frames instead of the whole frame corpus per 14-bit value —
    the beyond-budget scale path the unbanded docstring stated, now a
    shipped option. The contract: full recall for |offset| <=
    max_offset, drifts beyond it excluded. The fixture plants BOTH
    sides of the contract: small-drift copies (1 frame cut, offset 1)
    match with all 7 surviving frames; LARGE-drift copies (4 frames
    cut, offset 4 — still 4 matchable frames, so the UNBANDED vote
    would pair them) are excluded by the band. The oracle brute-
    forces the unaligned frame pairs with the SAME |offset| <= 2
    filter."""
    from dwh_spark.multimodal.perceptual import video_offset_near_dups

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    vids = _video_drift_fixture(docs, base=True, variants=True)
    return video_offset_near_dups(
        vids, max_hamming=3, min_frames=3, max_offset=2
    ).select(
        "id_a",
        "id_b",
        F.col("offset").cast("long").alias("offset_f"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )


@query(
    "av_audio_fp_offset_entropy_ingest",
    oracle="""
    WITH ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 48 AS n_sil,
             57 AS n_con, 0 AS is_new
      FROM documents
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 40, 57, 1 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 48, 49, 1 FROM documents
      WHERE doc_id % 10 = 7
    ),
    con AS (
      SELECT i.audio_id, i.is_new, i.n_sil + w.w AS w,
             sum((((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM ids i,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      WHERE w.w < i.n_con
      GROUP BY 1, 2, 3
    ),
    energies AS (
      SELECT audio_id, is_new, w, e FROM con
      UNION ALL
      SELECT i.audio_id, i.is_new, w.w, 0 AS e
      FROM ids i, (SELECT unnest(range(0, 48)) AS w) w
      WHERE w.w < i.n_sil
    ),
    bits AS (
      SELECT a.audio_id, a.is_new, a.w,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM energies a
      JOIN energies b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, b.is_new, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 73)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2, 3
      HAVING count(*) = 32
    ),
    lively AS (
      SELECT audio_id, is_new, p, word FROM sub
      WHERE bit_count(xor(word, word >> 1) & 2147483647) >= 4
    )
    SELECT n.audio_id AS batch_id, x.audio_id AS index_id,
           CAST(x.p - n.p AS BIGINT) AS offset_w,
           count(*) AS n_matches
    FROM lively n
    JOIN lively x ON x.word = n.word AND n.is_new = 1 AND x.is_new = 0
    GROUP BY 1, 2, 3 HAVING count(*) >= 5
    """,
)
def av_audio_fp_offset_entropy_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The STREAMING-FORM hot-word guard, oracle-gated: the same
    silence-padded corpus as av_audio_fp_offset_capped_ingest, but
    guarded by the STATELESS structural filter instead of the stored
    df cap — H-K's low-entropy skip
    (multimodal/audio_fp.py:drop_low_entropy_words): words with fewer
    than 4 sign-bit transitions (silence = 0, the silence-boundary
    family = 1..3) drop MAP-SIDE from BOTH the stored table and the
    probe, with no df column and no aggregate anywhere — the form an
    append-only stream state can apply, since it needs no compacted
    statistics. Trimmed/gain copies still match at their offsets via
    the high-transition content words; the silent×silent bucket never
    forms. The oracle re-derives the words and applies the SAME
    transition filter (popcount((w ^ (w >> 1)) & 0x7FFFFFFF) >= 4)
    to both sides of its brute-force join."""
    from dwh_spark.multimodal.audio_fp import (
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
        drop_low_entropy_words,
    )

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    index = drop_low_entropy_words(
        audio_subfingerprint_frame(
            _audio_silence_offset_fixture(docs, base=True, variants=False)
        )
    )
    batch = drop_low_entropy_words(
        audio_subfingerprint_frame(
            _audio_silence_offset_fixture(docs, base=False, variants=True)
        )
    )
    matches = audio_offset_vote_probe(index, batch, min_matches=5)
    return matches.select(
        "batch_id",
        "index_id",
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )


def _audio_forget_fixture(docs, base: bool, variants: bool):
    """Fixture for the right-to-be-forgotten audio query: per doc a
    57-window clip with md5-seeded window energies (seed prefix
    'fgt:' decorrelates from every other audio fixture, FIXTURES.md
    discipline); for doc_id%10==3 a TRIO — the base plus a
    HEAD-TRIMMED copy (first 8 windows dropped, id +3,000,000) AND a
    TAIL-TRIMMED copy (last 8 windows dropped, id +1,000,000) — so
    after the base is forgotten its two copies still pair with EACH
    OTHER (they share base windows 8..48) while nothing matches the
    forgotten base itself."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)

        def clip(d: int) -> "_np.ndarray":
            wins = []
            for w in range(57):
                a = (
                    int(_hashlib.md5(f"fgt:{d}:{w}".encode()).hexdigest()[:4], 16)
                    % 2048
                )
                wins.append((a + j * 13) % 2048 - 1024)
            return _np.concatenate(wins).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                s = clip(d)
                if base:
                    rows.append((d, wav_encode(s, 1000)))
                if variants and d % 10 == 3:
                    rows.append((d + 3000000, wav_encode(s[8 * 64:], 1000)))
                    rows.append((d + 1000000, wav_encode(s[: 49 * 64], 1000)))
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


_AV_AUDIO_FORGET_ORACLE = """
    WITH allc AS (
      SELECT doc_id AS audio_id, doc_id AS base, 0 AS skip_head,
             57 AS n_win, 0 AS is_ghost
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 8, 49, 0 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 0, 49, 0 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, doc_id, 0, 57, 1 FROM documents
      WHERE doc_id % 10 = 3
    ),
    seeds AS (
      SELECT i.audio_id, i.is_ghost, w.w,
             ('0x' || substr(md5('fgt:' || CAST(i.base AS VARCHAR) || ':'
                              || CAST(i.skip_head + w.w AS VARCHAR)), 1, 4))::BIGINT
               % 2048 AS a
      FROM allc i, (SELECT unnest(range(0, 57)) AS w) w
      WHERE w.w < i.n_win
    ),
    sq AS (
      SELECT s.audio_id, s.is_ghost, s.w,
             sum((((s.a + t.j * 13) % 2048 - 1024)
                  * ((s.a + t.j * 13) % 2048 - 1024))) AS e
      FROM seeds s, (SELECT unnest(range(0, 64)) AS j) t
      GROUP BY 1, 2, 3
    ),
    bits AS (
      SELECT a.audio_id, a.is_ghost, a.w,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM sq a JOIN sq b ON b.audio_id = a.audio_id
                         AND b.is_ghost = a.is_ghost AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, b.is_ghost, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 25)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2, 3
      HAVING count(*) = 32
    )
    SELECT 'pairs' AS arm, a.audio_id AS id_a, b.audio_id AS id_b,
           CAST(a.p - b.p AS BIGINT) AS offset_w, count(*) AS n_matches
    FROM sub a JOIN sub b
      ON b.word = a.word AND a.audio_id < b.audio_id
     AND a.is_ghost = 0 AND b.is_ghost = 0
    GROUP BY 2, 3, 4 HAVING count(*) >= 5
    UNION ALL
    SELECT 'ghost_probe', g.audio_id, x.audio_id,
           CAST(x.p - g.p AS BIGINT), count(*)
    FROM sub g JOIN sub x
      ON x.word = g.word AND g.is_ghost = 1 AND x.is_ghost = 0
    GROUP BY 2, 3, 4 HAVING count(*) >= 5
    """


@query("av_audio_offset_forget_probe", oracle=_AV_AUDIO_FORGET_ORACLE)
def av_audio_offset_forget_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN for the H-K audio lookup table (VERDICT
    r13 What's-missing #4 / next #2): build the with-df lookup table
    over the full corpus (every doc; %10==3 docs have a head-trimmed
    AND a tail-trimmed copy), then FORGET the %10==3 base clips via
    operators/forget.py:forget_subfp_index — the deleted rows' own
    word counts decrement the stored df column exactly (pinned equal
    to rebuild-minus-deleted in tests/test_forget_index.py); no
    corpus rescan, no index shuffle. Two oracle-enforced arms:

    - 'pairs': the offset vote over the SURVIVING index — the
      forgotten base appears in NO pair, while its two copies still
      pair with EACH OTHER at offset_w=8 through the 9 base windows
      they share (near-dup structure survives the forget);
    - 'ghost_probe': the forgotten clips' own subfingerprints probed
      back against the post-forget index (the re-ingest scenario,
      capped df<=8 on the forget-maintained column) — they hit ONLY
      the surviving copies (tail-trim at offset_w=0, head-trim at
      offset_w=-8), never the forgotten id itself; one leftover index
      row would add a row the oracle doesn't have.

    Durability note (stated trade): this is the LOGICAL forget — in a
    stored-index deployment the same anti-join runs as
    ``ParquetAppendLog.compact(transform=...)``, the append-log's
    history-rewrite point (streaming/ingest.py; pinned durable in
    tests/test_forget_index.py)."""
    from dwh_spark.multimodal.audio_fp import (
        attach_subfp_df,
        audio_offset_pairs_from_subfps,
        audio_offset_vote_probe,
        audio_subfingerprint_frame,
    )
    from dwh_spark.operators.forget import forget_subfp_index

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    # one decode pass feeds the df attach (groupBy + join), the forget
    # (semi + anti), the pairs vote and the ghost probe
    subfps = audio_subfingerprint_frame(
        _audio_forget_fixture(docs, base=True, variants=True)
    )
    (subfps,) = hold("av_audio", subfps)
    index = attach_subfp_df(subfps)
    fids = docs.filter(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("audio_id")
    )
    kept = forget_subfp_index(index, fids)
    pairs = audio_offset_pairs_from_subfps(
        kept.drop("df"), min_matches=5
    ).select(
        F.lit("pairs").alias("arm"),
        "id_a",
        "id_b",
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )
    ghost = subfps.join(F.broadcast(fids), "audio_id", "left_semi")
    probe = audio_offset_vote_probe(
        kept, ghost, min_matches=5, max_word_freq=8
    ).select(
        F.lit("ghost_probe").alias("arm"),
        F.col("batch_id").alias("id_a"),
        F.col("index_id").alias("id_b"),
        F.col("offset").cast("long").alias("offset_w"),
        F.col("n_matches").cast("long").alias("n_matches"),
    )
    return pairs.unionByName(probe)


def _video_forget_fixture(docs, base: bool, variants: bool):
    """Fixture for the right-to-be-forgotten video query: per doc a
    REAL 5-frame uncompressed AVI of 8x8 two-tone md5-grid frames
    (seed prefix 'vfg:' decorrelates from _video_offset_fixture); for
    doc_id%10==3 a TRIO — the base plus a HEAD-DROPPED copy (1 frame
    cut, id +3,000,000) AND a deeper head-dropped copy (2 frames cut,
    id +1,000,000) — so after the base is forgotten its two copies
    still pair with each other (3 shared frames at offset -1)."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(b: int, f: int) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(
                                f"vfg:{b}:{f}:{r}:{c}".encode()
                            ).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        def video(b: int, drop: int):
            frames = [grid(b, f) for f in range(5)][drop:]
            return codecs.avi_encode(_np.stack(frames)), len(frames)

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                if base:
                    v, n = video(d, 0)
                    out.append((d, n, v))
                if variants and d % 10 == 3:
                    v, n = video(d, 1)
                    out.append((d + 3000000, n, v))
                    v, n = video(d, 2)
                    out.append((d + 1000000, n, v))
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


_AV_VIDEO_FORGET_ORACLE = """
    WITH allc AS (
      SELECT doc_id AS video_id, doc_id AS base, 0 AS drop_head,
             0 AS is_ghost
      FROM documents WHERE doc_id % 10 <> 3
      UNION ALL
      SELECT doc_id + 3000000, doc_id, 1, 0 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id + 1000000, doc_id, 2, 0 FROM documents
      WHERE doc_id % 10 = 3
      UNION ALL
      SELECT doc_id, doc_id, 0, 1 FROM documents WHERE doc_id % 10 = 3
    ),
    cells AS (
      SELECT i.video_id, i.is_ghost, f.f - i.drop_head AS f, g.r, g.c,
             (('0x' || substr(md5('vfg:' || CAST(i.base AS VARCHAR) || ':'
                                  || CAST(f.f AS VARCHAR) || ':' || g.r
                                  || ':' || g.c), 1, 1))::INT % 2) AS b
      FROM allc i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
      WHERE f.f >= i.drop_head
    ),
    hashes AS (
      SELECT b1.video_id, b1.is_ghost, b1.f,
             CAST(sum(CASE WHEN b2.b = 1 AND b1.b = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id
                   AND b2.is_ghost = b1.is_ghost AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2, 3
    )
    SELECT 'pairs' AS arm, a.video_id AS id_a, b.video_id AS id_b,
           CAST(a.f - b.f AS BIGINT) AS offset_f,
           count(*) AS n_frames_matched,
           CAST(sum(bit_count(xor(a.h, b.h))) AS BIGINT) AS total_hamming
    FROM hashes a JOIN hashes b
      ON a.video_id < b.video_id AND a.is_ghost = 0 AND b.is_ghost = 0
     AND bit_count(xor(a.h, b.h)) <= 3
    GROUP BY 2, 3, 4 HAVING count(*) >= 3
    UNION ALL
    SELECT 'ghost_probe', g.video_id, x.video_id,
           CAST(x.f - g.f AS BIGINT), count(*),
           CAST(sum(bit_count(xor(x.h, g.h))) AS BIGINT)
    FROM hashes g JOIN hashes x
      ON g.is_ghost = 1 AND x.is_ghost = 0
     AND bit_count(xor(x.h, g.h)) <= 3
    GROUP BY 2, 3, 4 HAVING count(*) >= 3
    """


@query("av_video_offset_forget_probe", oracle=_AV_VIDEO_FORGET_ORACLE)
def av_video_offset_forget_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RIGHT-TO-BE-FORGOTTEN for the per-frame video index AND its
    bounded block-stats table (VERDICT r13 next #2, video binding):
    forget the %10==3 base videos from the stored (video_id, frame_ix,
    dhash) index (operators/forget.py:forget_frame_index — one
    broadcast anti-join) and SHRINK the stored (i, val, df) stats by
    the forgotten videos' own frame partials
    (forget.py:shrink_block_df — both sides stats-table-bounded,
    pinned equal to a stats rebuild), then run the CAPPED offset vote
    (max_block_freq=500, the 2^14-space calibration) over the
    survivors with the SHRUNK stats on the guard path. Arms as the
    audio twin: 'pairs' — the forgotten base pairs with nothing while
    its two head-dropped copies still pair with each other (3 shared
    frames at offset_f=-1); 'ghost_probe' — the forgotten frames
    probed back hit only the surviving copies (offset -1 / -2), never
    the forgotten id. The oracle re-derives every dHash from doc_id
    arithmetic and brute-forces both arms."""
    from dwh_spark.multimodal.perceptual import (
        video_block_df,
        video_dhash_frames,
        video_offset_pairs_from_frames,
        video_offset_vote_probe,
    )
    from dwh_spark.operators.forget import forget_frame_index, shrink_block_df

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    # one decode pass feeds the stats build, the forget split (semi +
    # anti), the pairs vote and the ghost probe
    frames = video_dhash_frames(
        _video_forget_fixture(docs, base=True, variants=True)
    )
    (frames,) = hold("av_video", frames)
    stats = video_block_df(frames)
    fids = docs.filter(F.col("doc_id") % 10 == 3).select(
        F.col("doc_id").alias("video_id")
    )
    dead = frames.join(F.broadcast(fids), "video_id", "left_semi")
    kept = forget_frame_index(frames, fids)
    shrunk = shrink_block_df(stats, dead)
    pairs = (
        video_offset_pairs_from_frames(
            kept, max_hamming=3, block_df=shrunk, max_block_freq=500
        )
        .groupBy("id_a", "id_b", (F.col("f_a") - F.col("f_b")).alias("offset_f"))
        .agg(
            F.count("*").alias("n_frames_matched"),
            F.sum("hamming").alias("total_hamming"),
        )
        .filter(F.col("n_frames_matched") >= 3)
        .select(
            F.lit("pairs").alias("arm"),
            "id_a",
            "id_b",
            F.col("offset_f").cast("long").alias("offset_f"),
            F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
            F.col("total_hamming").cast("long").alias("total_hamming"),
        )
    )
    probe = video_offset_vote_probe(
        kept, dead, min_frames=3, max_hamming=3,
        block_df=shrunk, max_block_freq=500,
    ).select(
        F.lit("ghost_probe").alias("arm"),
        F.col("batch_id").alias("id_a"),
        F.col("index_id").alias("id_b"),
        F.col("offset").cast("long").alias("offset_f"),
        F.col("n_frames_matched").cast("long").alias("n_frames_matched"),
        F.col("total_hamming").cast("long").alias("total_hamming"),
    )
    return pairs.unionByName(probe)


# The silence-padded corpus's full subfingerprint derivation in SQL —
# every H-K word re-derived arithmetically from the fixture recipe
# (_audio_silence_offset_fixture, base only). Shared by the cap
# calibration oracle and the maintenance-window ledger oracle.
_AV_SILENCE_SUBFP_CTES = """ids AS (
      SELECT doc_id AS audio_id, doc_id AS base, 48 AS n_sil, 57 AS n_con
      FROM documents
    ),
    con AS (
      SELECT i.audio_id, i.n_sil + w.w AS w,
             sum((((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024)
                  * ((('0x' || substr(md5('offc:' || CAST(i.base AS VARCHAR)
                                     || ':' || CAST(w.w AS VARCHAR)), 1, 4))::BIGINT
                     % 2048 + t.j * 13) % 2048 - 1024))) AS e
      FROM ids i,
           (SELECT unnest(range(0, 57)) AS w) w,
           (SELECT unnest(range(0, 64)) AS j) t
      WHERE w.w < i.n_con
      GROUP BY 1, 2
    ),
    energies AS (
      SELECT audio_id, w, e FROM con
      UNION ALL
      SELECT i.audio_id, w.w, 0 AS e
      FROM ids i, (SELECT unnest(range(0, 48)) AS w) w
      WHERE w.w < i.n_sil
    ),
    bits AS (
      SELECT a.audio_id, a.w, CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS b
      FROM energies a
      JOIN energies b ON b.audio_id = a.audio_id AND b.w = a.w + 1
    ),
    sub AS (
      SELECT b.audio_id, p.p,
             CAST(sum(CASE WHEN b.b = 1
                           THEN (1::BIGINT << (b.w - p.p)) ELSE 0 END)
                  AS BIGINT) AS word
      FROM bits b
      JOIN (SELECT unnest(range(0, 73)) AS p) p
        ON b.w >= p.p AND b.w < p.p + 32
      GROUP BY 1, 2
      HAVING count(*) = 32
    )"""

_AV_CAP_CALIBRATION_ORACLE = f"""
    WITH {_AV_SILENCE_SUBFP_CTES},
    stats AS (SELECT word, count(*) AS df FROM sub GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM stats),
    hist AS (SELECT df, count(*) AS c FROM stats GROUP BY 1),
    cum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cum FROM hist),
    capv AS (
      SELECT 4 * (SELECT min(df) FROM cum, nn
                  WHERE cum >= ceil(0.99 * nn.n)) AS cap
    )
    SELECT 'cap' AS metric, CAST(0 AS BIGINT) AS k,
           CAST(cap AS BIGINT) AS v FROM capv
    UNION ALL
    SELECT 'n_values', 0, CAST(n AS BIGINT) FROM nn
    UNION ALL
    SELECT 'n_values_dropped', 0,
           (SELECT CAST(count(*) AS BIGINT) FROM stats, capv WHERE df > cap)
    UNION ALL
    SELECT 'n_postings', 0, (SELECT CAST(sum(df) AS BIGINT) FROM stats)
    UNION ALL
    SELECT 'n_postings_dropped', 0,
           (SELECT CAST(coalesce(sum(df), 0) AS BIGINT)
            FROM stats, capv WHERE df > cap)
    UNION ALL
    SELECT 'dropped_word', word, CAST(df AS BIGINT)
    FROM stats, capv WHERE df > cap
    """


@query("av_audio_fp_cap_calibration", oracle=_AV_CAP_CALIBRATION_ORACLE)
def av_audio_fp_cap_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXECUTABLE cap calibration (VERDICT r13 What's-wrong #2 / next
    #3) over the silence-padded corpus of
    av_audio_fp_offset_capped_ingest: the per-word df stats of the
    stored H-K lookup table feed operators/caps.py:calibrate_cap
    (margin x exact ceil-rank q99 of per-value df — here the natural
    md5-random content band has df ~= 1, so the cap lands at 4) and
    operators/caps.py:cap_report (the silent-drop fix: exactly what
    the cap discards). Long-format output, all oracle-enforced:

    - the chosen cap and the four report counters — a mis-computed
      quantile or report is a value mismatch;
    - one 'dropped_word' row per over-cap value: the silence word
      (sub32 = 0, df = 16 positions x corpus clips), the boundary
      word (1 << 31, df = corpus clips) and the boundary FAMILY
      behind it (words mixing the zero run, the always-set
      silence-to-content bit and the first few content bits — shared
      by corpus/2, corpus/4, ... clips until the tree fans below the
      cap) — the whole degenerate band and NOTHING natural, the
      check the manual rule could only assert by hand.

    This is the production recipe the capped queries' df<=8 /
    df<=500 constants come from: compute stats at index build /
    compaction, calibrate, read the report before enabling the cap.
    The oracle re-derives every word arithmetically and applies the
    SAME ceil-rank rule in SQL."""
    from dwh_spark.multimodal.audio_fp import audio_subfingerprint_frame
    from dwh_spark.operators.caps import calibrate_cap, cap_report

    docs = (
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .repartition(32)
    )
    # the stats table feeds three consumers (quantile histogram,
    # report aggregate, dropped-value listing) — persist the BOUNDED
    # stats, so the WAV corpus decodes once
    stats = (
        audio_subfingerprint_frame(
            _audio_silence_offset_fixture(docs, base=True, variants=False)
        )
        .groupBy("sub32")
        .agg(F.count("*").alias("df"))
    )
    (stats,) = hold("av_audio", stats)
    cap = calibrate_cap(stats, quantile=0.99, margin=4)
    report = cap_report(stats, cap).selectExpr(
        "stack(5, 'cap', cap, 'n_values', n_values, "
        "'n_values_dropped', n_values_dropped, "
        "'n_postings', n_postings, "
        "'n_postings_dropped', n_postings_dropped) AS (metric, v)"
    ).select("metric", F.lit(0).cast("long").alias("k"), F.col("v").cast("long"))
    dropped = stats.filter(F.col("df") > cap).select(
        F.lit("dropped_word").alias("metric"),
        F.col("sub32").alias("k"),
        F.col("df").cast("long").alias("v"),
    )
    return report.unionByName(dropped)


def _audio_jingle_offset_fixture(docs, base: bool, variants: bool):
    """Fixture for the STREAMING df-cap composition: every %5==0 doc's
    clip leads with a SHARED 40-window JINGLE (seed 'jgl:{w}' — no
    doc_id in the seed, so all jingled clips emit the same 8
    fully-jingle subfingerprint words at positions 0..7) followed by
    57 windows of per-doc content (seed 'cap2:{d}:{w}'); other docs
    are content-only. The jingle is HIGH-ENTROPY — it passes the
    stateless transition guard by design; only the accumulated-df cap
    can catch it. For doc_id%10==3 (never jingled: %5!=0) a
    HEAD-TRIMMED content copy (8 windows cut, id +3,000,000) plants
    the genuine-match class that must SURVIVE the cap."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal.audio import wav_encode

        j = _np.arange(64, dtype=_np.int64)

        def win(seed: str) -> "_np.ndarray":
            a = int(_hashlib.md5(seed.encode()).hexdigest()[:4], 16) % 2048
            return (a + j * 13) % 2048 - 1024

        jingle = _np.concatenate(
            [win(f"jgl:{w}") for w in range(40)]
        ).astype(_np.int16)

        def content(d: int, skip: int, n: int) -> "_np.ndarray":
            return _np.concatenate(
                [win(f"cap2:{d}:{w}") for w in range(skip, skip + n)]
            ).astype(_np.int16)

        for pdf in batches:
            rows = []
            for d in pdf["doc_id"]:
                d = int(d)
                if base:
                    c = content(d, 0, 57)
                    s = _np.concatenate([jingle, c]) if d % 5 == 0 else c
                    rows.append((d, wav_encode(s.astype(_np.int16), 1000)))
                if variants and d % 10 == 3:
                    rows.append(
                        (d + 3000000, wav_encode(content(d, 8, 49), 1000))
                    )
            yield _pd.DataFrame(rows, columns=["audio_id", "content"])

    return docs.mapInPandas(gen, "audio_id long, content binary")


def _video_title_offset_fixture(docs, base: bool, variants: bool):
    """Fixture for the VIDEO streaming df-cap composition: every
    %5==0 doc's video leads with a SHARED 3-frame TITLE CARD (seed
    'vttl:{f}:{r}:{c}' — no doc_id, so every titled video emits the
    same three dHashes at frames 0..2), followed by 5 per-doc content
    frames (seed 'vcnt:{d}:{f}:...'); other docs are content-only.
    The title card is HIGH-DETAIL — it passes the stateless popcount
    guard by design; only accumulated block statistics can catch it
    (the visual jingle). For doc_id%10==3 (never titled: %5!=0) a
    HEAD-DROPPED content copy (1 frame cut, id +3,000,000) plants the
    genuine-match class that must survive the cap."""

    def gen(batches):
        import hashlib as _hashlib

        import numpy as _np
        import pandas as _pd

        from dwh_spark.multimodal import codecs

        def grid(seed: str) -> "_np.ndarray":
            g = _np.empty((8, 8), _np.uint8)
            for r in range(8):
                for c in range(8):
                    g[r, c] = (
                        int(
                            _hashlib.md5(f"{seed}:{r}:{c}".encode()).hexdigest()[0],
                            16,
                        )
                        % 2
                    )
            rgb = _np.where(g[:, :, None] == 1, 200, 50).astype(_np.uint8)
            return _np.repeat(rgb, 3, axis=2)

        title = [grid(f"vttl:{f}") for f in range(3)]

        for pdf in batches:
            out = []
            for doc_id in pdf["doc_id"]:
                d = int(doc_id)
                content = [grid(f"vcnt:{d}:{f}") for f in range(5)]
                if base:
                    frames = (title if d % 5 == 0 else []) + content
                    out.append(
                        (d, len(frames), codecs.avi_encode(_np.stack(frames)))
                    )
                if variants and d % 10 == 3:
                    frames = content[1:]
                    out.append(
                        (
                            d + 3000000,
                            len(frames),
                            codecs.avi_encode(_np.stack(frames)),
                        )
                    )
            yield _pd.DataFrame(out, columns=["video_id", "n_frames", "content"])

    return docs.mapInPandas(gen, "video_id long, n_frames long, content binary")


_AV_WINDOW_LEDGER_ORACLE = f"""
    WITH {_AV_SILENCE_SUBFP_CTES},
    bt AS (
      SELECT audio_id, ntile(3) OVER (ORDER BY audio_id) AS b FROM ids
    ),
    surv AS (
      SELECT s.audio_id, s.p, s.word, bt.b
      FROM sub s JOIN bt USING (audio_id)
      WHERE s.audio_id % 10 != 3
    ),
    stats_pf AS (SELECT word, count(*) AS df FROM surv GROUP BY 1),
    nn AS (SELECT count(*) AS n FROM stats_pf),
    hist AS (SELECT df, count(*) AS c FROM stats_pf GROUP BY 1),
    cum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cum FROM hist),
    qv AS (
      SELECT min(df) AS v FROM cum, nn WHERE cum >= ceil(0.99 * nn.n)
    ),
    post AS (SELECT audio_id, word FROM surv WHERE b >= 2),
    stats_post AS (SELECT word, count(*) AS df FROM post GROUP BY 1)
    SELECT 1 AS phase_no, 'forget' AS phase, CAST(0 AS BIGINT) AS k,
           (SELECT count(*) FROM sub WHERE audio_id % 10 = 3) AS n,
           CAST((SELECT coalesce(sum(audio_id), 0) FROM sub
                 WHERE audio_id % 10 = 3) AS DOUBLE) AS v
    UNION ALL
    SELECT 2, 'recalibrate', 0,
           (SELECT CAST(v * 4 AS BIGINT) FROM qv),
           (SELECT CAST(v AS DOUBLE) FROM qv)
    UNION ALL
    SELECT 3, 'expire', 0, CAST(1 AS BIGINT),
           (SELECT CAST(count(*) AS DOUBLE) FROM surv WHERE b = 1)
    UNION ALL
    SELECT 4, 'hot_words', 0,
           (SELECT count(*) FROM stats_post, qv WHERE df > v * 4),
           (SELECT CAST(max(df) AS DOUBLE) FROM stats_post)
    UNION ALL
    SELECT 5, 'post', 0,
           (SELECT count(*) FROM post),
           (SELECT CAST(count(*) AS DOUBLE) FROM stats_post)
    """


@query("av_audio_window_ledger", oracle=_AV_WINDOW_LEDGER_ORACLE)
def av_audio_window_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MAINTENANCE WINDOW, FINGERPRINT-FAMILY BINDING
    (streaming/maintenance.py:run_fp_maintenance_window — the second
    binding of the window contract; the IVF binding is
    emb_maintenance_window_ledger): the H-K lookup table of the
    silence-padded corpus (the av_audio_fp_cap_calibration fixture)
    is appended as three id-ordered segments with its per-batch
    word-df partials log, then ONE window pass runs — forget the
    %10==3 clips (per-segment index rewrite + exact stats shrink by
    the forgotten rows' own partials), recalibrate the word cap from
    the POST-forget stats (this family's cap is NATIVE — it is what
    gates every capped probe), EXPIRE batch 1's index segment with
    the stats shrunk by the expired partials (an unshrunk stats log
    would over-count df and cap words too eagerly), optimize, and
    report the cap's consumer input (the post-window hot-word set,
    exactly what WordDfCapMaintenance.hot_words broadcasts into the
    fold). No trained artifact in this family, so the trigger/retrain
    phases are structurally absent — stated at the runner.

    Output is the window LEDGER (phase_no, phase, k, n, v): postings
    forgotten + clip-id posting sum, cap + its quantile,
    segments/postings expired, hot-word count + max df on the
    POST-window stats, and the post-state posting/word counts. The
    oracle re-derives every H-K word arithmetically from the fixture
    recipe (the shared _AV_SILENCE_SUBFP_CTES chain) and applies the
    same ntile batch split, survivor filter, ceil-rank quantile and
    horizon arithmetic in SQL — a stats shrink that drifted from
    rebuild-over-retained, or a cap read off the wrong era's stats,
    hash-mismatches.

    100 TB: one decode pass builds the fixture index; the window
    costs one broadcast anti-join, O(forgotten)+O(expired) partial
    aggregates, two bounded stats merges, and the compaction the
    store was due anyway."""
    import os

    from pyspark.sql.window import Window

    from dwh_spark.multimodal.audio_fp import audio_subfingerprint_frame
    from dwh_spark.streaming.ingest import ParquetAppendLog, append_batches
    from dwh_spark.streaming.maintenance import run_fp_maintenance_window

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(32)
    subs = audio_subfingerprint_frame(
        _audio_silence_offset_fixture(docs, base=True, variants=False)
    )
    # the batch split comes from the CHEAP id frame (audio_id == doc_id
    # in the base-only fixture) — deriving it from subs would put the
    # decode subtree on BOTH sides of the join and run it twice
    bt = docs.select(F.col("doc_id").alias("audio_id")).withColumn(
        "b", F.ntile(3).over(Window.orderBy("audio_id"))
    )
    # one decode pass feeds three segment writes + three stats appends
    (sliced,) = hold("av_audio", subs.join(F.broadcast(bt), "audio_id"))
    # materialize the cache with a PARALLEL action first: every
    # staging write below coalesces to one file (write_partitions=1),
    # and a coalesce(1) over an unmaterialized cache would compute the
    # whole subfingerprint pass inside ONE task (guide §2.5) — the
    # count runs it 32-wide once, staging then reads cached blocks
    sliced.count()

    root = scratch_dir("av_window_")
    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    stats_store = ParquetAppendLog(os.path.join(root, "stats"), write_partitions=1)
    # six independent staging writes over ONE persisted decode pass —
    # pooled (streaming/ingest.py:append_batches), commits in order
    _stage = []
    for i in range(1, 4):
        seg = sliced.filter(F.col("b") == i).select("audio_id", "pos", "sub32")
        _stage.append((index_store, seg, i - 1))
        _stage.append(
            (stats_store, seg.groupBy("sub32").agg(F.count("*").alias("df")), i - 1)
        )
    append_batches(_stage)
    fids = (
        sliced.select("audio_id").distinct().filter(F.col("audio_id") % 10 == 3)
    )
    rep = run_fp_maintenance_window(
        spark,
        index_store,
        stats_store,
        forgotten_ids=fids,
        expire_keep_from=1,
    )
    return spark.createDataFrame(
        [
            (1, "forget", 0, rep.rows_forgotten, float(rep.forgotten_key_sum)),
            (2, "recalibrate", 0, rep.cap, float(rep.cap_quantile_value)),
            (3, "expire", 0, rep.segments_expired, float(rep.rows_expired)),
            (4, "hot_words", 0, len(rep.hot_words), float(rep.max_df)),
            (5, "post", 0, rep.n_postings_after, float(rep.n_words_after)),
        ],
        "phase_no int, phase string, k long, n long, v double",
    )


_AV_VIDEO_WINDOW_LEDGER_ORACLE = """
    WITH ids AS (SELECT doc_id AS video_id FROM documents),
    bt AS (
      SELECT video_id, ntile(3) OVER (ORDER BY video_id) AS b FROM ids
    ),
    cells AS (
      SELECT i.video_id, f.f + 4 AS f, g.r, g.c,
             (('0x' || substr(md5('vblk:' || CAST(i.video_id AS VARCHAR)
                               || ':' || CAST(f.f AS VARCHAR) || ':' || g.r
                               || ':' || g.c), 1, 1))::INT % 2) AS bbit
      FROM ids i,
           (SELECT unnest(range(0, 5)) AS f) f,
           (SELECT r.r, c.c
            FROM (SELECT unnest(range(0, 8)) AS r) r,
                 (SELECT unnest(range(0, 8)) AS c) c) g
    ),
    hashes AS (
      SELECT b1.video_id, b1.f,
             CAST(sum(CASE WHEN b2.bbit = 1 AND b1.bbit = 0
                           THEN (1::BIGINT << (b1.r * 7 + b1.c))
                           ELSE 0 END) AS BIGINT) AS h
      FROM cells b1
      JOIN cells b2 ON b2.video_id = b1.video_id AND b2.f = b1.f
                   AND b2.r = b1.r AND b2.c = b1.c + 1
      GROUP BY 1, 2
      UNION ALL
      SELECT i.video_id, f.f, 0 AS h
      FROM ids i, (SELECT unnest(range(0, 4)) AS f) f
    ),
    frames AS (
      SELECT h.video_id, h.f, h.h, bt.b
      FROM hashes h JOIN bt USING (video_id)
    ),
    surv_f AS (SELECT * FROM frames WHERE video_id % 10 != 3),
    surv_b AS (
      SELECT s.video_id, s.b, bl.i,
             CAST((s.h >> (bl.i * 14)) & 16383 AS BIGINT) AS val
      FROM surv_f s, (SELECT unnest(range(0, 4)) AS i) bl
    ),
    stats_pf AS (SELECT i, val, count(*) AS df FROM surv_b GROUP BY 1, 2),
    nn AS (SELECT count(*) AS n FROM stats_pf),
    hist AS (SELECT df, count(*) AS c FROM stats_pf GROUP BY 1),
    cum AS (SELECT df, sum(c) OVER (ORDER BY df) AS cum FROM hist),
    qv AS (
      SELECT min(df) AS v FROM cum, nn WHERE cum >= ceil(0.99 * nn.n)
    ),
    post_f AS (SELECT * FROM surv_f WHERE b >= 2),
    stats_post AS (
      SELECT i, val, count(*) AS df FROM surv_b WHERE b >= 2 GROUP BY 1, 2
    )
    SELECT 1 AS phase_no, 'forget' AS phase, CAST(0 AS BIGINT) AS k,
           (SELECT count(*) FROM frames WHERE video_id % 10 = 3) AS n,
           CAST((SELECT coalesce(sum(video_id), 0) FROM frames
                 WHERE video_id % 10 = 3) AS DOUBLE) AS v
    UNION ALL
    SELECT 2, 'recalibrate', 0,
           (SELECT CAST(v * 4 AS BIGINT) FROM qv),
           (SELECT CAST(v AS DOUBLE) FROM qv)
    UNION ALL
    SELECT 3, 'expire', 0, CAST(1 AS BIGINT),
           (SELECT CAST(count(*) AS DOUBLE) FROM surv_f WHERE b = 1)
    UNION ALL
    SELECT 4, 'hot_words', 0,
           (SELECT count(*) FROM stats_post, qv WHERE df > v * 4),
           (SELECT CAST(max(df) AS DOUBLE) FROM stats_post)
    UNION ALL
    SELECT 5, 'post', 0,
           (SELECT count(*) FROM post_f),
           (SELECT CAST(count(*) AS DOUBLE) FROM stats_post)
    """


@query("av_video_window_ledger", oracle=_AV_VIDEO_WINDOW_LEDGER_ORACLE)
def av_video_window_ledger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE MAINTENANCE WINDOW'S FOURTH POSTING-FAMILY BINDING — the
    VIDEO per-frame index (VERDICT r16 What's-missing #5, closing the
    matrix): this family's stats are NOT a column count — the stored
    artifact is the (video_id, frame_ix, dhash) frame table and its
    stats log holds per-(block, value) counts DERIVED from the hashes
    (multimodal/perceptual.py:video_block_df, the
    ``BlockDfCapMaintenance.record`` shape) — so it exercises the
    runner's generic seams: ``stats_keys=["i", "val"]`` (composite)
    and ``partials_fn=video_block_df`` (derived partials). Zero
    runner phase changes: forget the %10==3 videos (per-segment
    rewrite + the forgotten frames' OWN block partials subtracted),
    recalibrate the block cap from POST-forget stats (the 4 black
    (i, 0) values are the degenerate band — df = 4 x survivors per
    block vs the md5-content natural band), EXPIRE batch 0 with its
    partials, optimize, report the post-window hot set — exactly the
    ``max_block_freq`` guard the offset probes anti-join.

    Output is the window LEDGER (phase_no, phase, k, n, v); the
    oracle re-derives every frame dHash from the fixture's md5-grid
    recipe, splits it into the SAME 14-bit blocks, and applies the
    ntile batch split, survivor filter, ceil-rank q99, margin and
    horizon arithmetic in SQL — a block-partial shrink that drifted
    from rebuild-over-retained hash-mismatches.

    100 TB: one decode pass (persisted) feeds all six appends; the
    window costs one broadcast anti-join, O(forgotten)+O(expired)
    derived-partial aggregates over bounded (<= 4 x 2^14-row)
    frames, two bounded stats merges, and the compaction the store
    was due anyway."""
    import os

    from pyspark.sql.window import Window

    from dwh_spark.multimodal.perceptual import (
        video_block_df,
        video_dhash_frames,
    )
    from dwh_spark.streaming.ingest import ParquetAppendLog, append_batches
    from dwh_spark.streaming.maintenance import run_fp_maintenance_window

    docs = load_table(spark, sf_dir, "documents").select("doc_id").repartition(32)
    frames = video_dhash_frames(
        _video_black_offset_fixture(docs, base=True, variants=False)
    )
    bt = docs.select(F.col("doc_id").alias("video_id")).withColumn(
        "b", F.ntile(3).over(Window.orderBy("video_id"))
    )
    # one decode pass feeds three segment writes + three stats appends
    (sliced,) = hold("av_video", frames.join(F.broadcast(bt), "video_id"))
    # parallel cache materialization before the coalesce(1) staging
    # writes — same rationale as the audio binding above
    sliced.count()

    root = scratch_dir("av_video_window_")
    index_store = ParquetAppendLog(os.path.join(root, "index"), write_partitions=1)
    stats_store = ParquetAppendLog(os.path.join(root, "stats"), write_partitions=1)
    # pooled staging over the one persisted frame pass (ingest.py:
    # append_batches) — commits in order after every write lands
    _stage = []
    for i in range(1, 4):
        seg = sliced.filter(F.col("b") == i).select(
            "video_id", "frame_ix", "dhash"
        )
        _stage.append((index_store, seg, i - 1))
        _stage.append((stats_store, video_block_df(seg), i - 1))
    append_batches(_stage)
    fids = bt.select("video_id").filter(F.col("video_id") % 10 == 3)
    rep = run_fp_maintenance_window(
        spark,
        index_store,
        stats_store,
        forgotten_ids=fids,
        key="video_id",
        value_col="dhash",
        stats_keys=["i", "val"],
        partials_fn=video_block_df,
        expire_keep_from=1,
    )
    return spark.createDataFrame(
        [
            (1, "forget", 0, rep.rows_forgotten, float(rep.forgotten_key_sum)),
            (2, "recalibrate", 0, rep.cap, float(rep.cap_quantile_value)),
            (3, "expire", 0, rep.segments_expired, float(rep.rows_expired)),
            (4, "hot_words", 0, len(rep.hot_words), float(rep.max_df)),
            (5, "post", 0, rep.n_postings_after, float(rep.n_words_after)),
        ],
        "phase_no int, phase string, k long, n long, v double",
    )
