"""Multimodal queries over the synthetic media table.

mm01 (metadata/selection) is pure column algebra — full DuckDB oracle.
mm02 (feature extraction) decodes with the fake codec whose features
reduce to byte statistics, which DuckDB can also compute from the
utf8 payload — so even the mapInPandas path gets a value-level oracle.
mm03 (frame sampling) is rows-only (payload slicing), with exact-value
unit tests in tests/test_multimodal.py.
mm05/mm06 round-trip REAL codecs (RIFF WAV, baseline PNG via zlib)
inside mapInPandas; the oracle recomputes the same statistics from the
generating formula, so any bit-loss in the codec fails the value check.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from ..functions.banding import (
    bucket_pairs,
    drop_oversized_buckets,
    hamming_pairs,
    hash_bands,
    oversized_buckets,
)
from ..multimodal.media import (
    as_media_table,
    extract_image_features,
    resize_images,
    sample_frames,
)
from .base import register, t

_MEDIA_SQL = """
  SELECT doc_id AS media_id,
         CASE WHEN doc_id % 3 = 0 THEN 'image'
              WHEN doc_id % 3 = 1 THEN 'audio'
              ELSE 'video' END AS media_type,
         'fake' AS format,
         CAST(doc_id % 16 + 1 AS INTEGER) AS width,
         CAST(doc_id % 8 + 1 AS INTEGER) AS height,
         CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames,
         encode(text) AS payload
  FROM documents
"""


@register(
    "mm01_media_metadata",
    oracle=f"""
    SELECT media_id, media_type, format, width, height, n_frames,
           octet_length(payload) AS n_bytes
    FROM ({_MEDIA_SQL})
    WHERE media_type IN ('image', 'video')
    """,
    note="Multimodal metadata selection: typed metadata columns filter "
    "and project WITHOUT touching payload bytes — at 100 TB a "
    "metadata-only query reads zero payload pages (parquet column "
    "pruning).",
)
def mm01_media_metadata(spark, sf_dir):
    media = as_media_table(t(spark, sf_dir, "documents"))
    return media.filter(
        F.col("media_type").isin("image", "video")
    ).select(
        "media_id",
        "media_type",
        "format",
        "width",
        "height",
        "n_frames",
        F.octet_length("payload").alias("n_bytes"),
    )


@register(
    "mm02_image_features",
    oracle=f"""
    WITH m AS ({_MEDIA_SQL}),
    hx AS (
      SELECT media_id, width, height,
             octet_length(payload) AS n_bytes,
             lower(hex(payload)) AS h
      FROM m WHERE media_type = 'image'
    ),
    px AS (
      -- the fake codec tiles payload bytes into width*height pixels;
      -- byte k (0-based, tiled) = hex pair at 2k+1 — decoded via
      -- strpos arithmetic since DuckDB blobs aren't indexable
      SELECT media_id, n_bytes,
             list_transform(
               range(0, width * height),
               i -> (strpos('0123456789abcdef',
                       substr(h, CAST(2 * (i % n_bytes) + 1 AS BIGINT), 1)) - 1) * 16
                  + (strpos('0123456789abcdef',
                       substr(h, CAST(2 * (i % n_bytes) + 2 AS BIGINT), 1)) - 1)
             ) AS pixels
      FROM hx
    )
    SELECT media_id, n_bytes,
           CAST(list_sum(pixels) AS DOUBLE) / len(pixels) AS mean_intensity,
           CAST(list_max(pixels) AS BIGINT) AS max_intensity
    FROM px
    """,
    note="Arrow-batched mapInPandas decode + per-media features: "
    "payloads stream through Python per BATCH and only (id, scalars) "
    "return to the JVM — the multimodal hot-path shape. The fake codec "
    "reduces to byte statistics, so even this path is value-checked "
    "against DuckDB.",
)
def mm02_image_features(spark, sf_dir):
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    return extract_image_features(media)


@register(
    "mm03_frame_sample",
    oracle=f"""
    SELECT media_id,
           unnest(range(0, n_frames, 2)) AS frame_idx,
           least(frame_len,
                 greatest(n - unnest(range(0, n_frames, 2)) * frame_len,
                          0)) AS n_bytes
    FROM (
      SELECT media_id, n_frames, octet_length(payload) AS n,
             greatest(octet_length(payload) // n_frames, 1) AS frame_len
      FROM ({_MEDIA_SQL})
      WHERE media_type = 'video' AND n_frames > 0)
    """,
    note="Video frame sampling via mapInPandas: every 2nd frame as "
    "(media_id, frame_idx, frame_payload) — bounded fan-out, no "
    "shuffle; the fake codec's slice arithmetic is mirrored in SQL so "
    "even the Python path is value-checked (plus exact-byte tests in "
    "tests/test_multimodal.py).",
)
def mm03_frame_sample(spark, sf_dir):
    media = as_media_table(t(spark, sf_dir, "documents"))
    frames = sample_frames(media, every_n=2)
    return frames.select(
        "media_id", "frame_idx", F.octet_length("frame_payload").alias("n_bytes")
    )


_RESIZE_W, _RESIZE_H = 4, 3


@register(
    "mm04_resize_features",
    oracle=f"""
    WITH m AS ({_MEDIA_SQL}),
    hx AS (
      SELECT media_id, width, height,
             octet_length(payload) AS n_bytes,
             lower(hex(payload)) AS h
      FROM m WHERE media_type = 'image'
    ),
    px AS (
      -- nearest-neighbor resize to {_RESIZE_W}x{_RESIZE_H}: resized
      -- pixel (y, x) = original pixel (y*height//{_RESIZE_H},
      -- x*width//{_RESIZE_W}); original pixel k (row-major, tiled
      -- fake codec) = payload byte (k % n_bytes), decoded from hex
      -- as in mm02
      SELECT media_id,
             list_transform(
               range(0, {_RESIZE_W * _RESIZE_H}),
               i -> (strpos('0123456789abcdef',
                       substr(h, CAST(2 * ((((i // {_RESIZE_W}) * height // {_RESIZE_H}) * width
                                            + ((i % {_RESIZE_W}) * width // {_RESIZE_W})) % n_bytes) + 1 AS BIGINT), 1)) - 1) * 16
                  + (strpos('0123456789abcdef',
                       substr(h, CAST(2 * ((((i // {_RESIZE_W}) * height // {_RESIZE_H}) * width
                                            + ((i % {_RESIZE_W}) * width // {_RESIZE_W})) % n_bytes) + 2 AS BIGINT), 1)) - 1)
             ) AS pixels
      FROM hx
    )
    SELECT media_id,
           CAST({_RESIZE_W * _RESIZE_H} AS BIGINT) AS n_bytes,
           CAST(list_sum(pixels) AS DOUBLE) / len(pixels) AS mean_intensity,
           CAST(list_max(pixels) AS BIGINT) AS max_intensity
    FROM px
    """,
    note="Resize (nearest-neighbor, mapInPandas stub codec) then "
    "feature-extract: two chained narrow media ops — payload bytes "
    "move zero times over the network, and the resized payload is "
    "value-checked by replicating the index arithmetic in SQL.",
)
def mm04_resize_features(spark, sf_dir):
    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    resized = resize_images(media, out_w=_RESIZE_W, out_h=_RESIZE_H)
    return extract_image_features(resized)


# ---------------------------------------------------------------------------
# MM5: REAL WAV round-trip — encode -> decode through the actual codec
# ---------------------------------------------------------------------------

_WAV_N = 64  # samples per synthetic clip


@register(
    "mm05_audio_roundtrip_features",
    oracle=f"""
    WITH s AS (
      SELECT doc_id AS media_id,
             list_transform(range({_WAV_N}),
               i -> (doc_id * 37 + i * 11) % 2003 - 1001) AS samples
      FROM documents WHERE doc_id % 3 = 1)
    SELECT media_id,
           CAST({_WAV_N} AS INT) AS n_samples,
           CAST(list_sum(samples) AS DOUBLE) / {_WAV_N} AS mean_sample,
           CAST(list_max(samples) AS INT) AS max_sample
    FROM s
    """,
    note="MM5 audio: deterministic int16 clips are ENCODED to real RIFF "
    "WAV bytes and DECODED back through the stdlib codec "
    "(multimodal/media.py encode_wav/decode_audio) inside one "
    "mapInPandas pass; rows rotate the PCM sample width by "
    "(media_id//3) %% 3 across 16-, 24- and 32-bit layouts (r11 — "
    "24-bit is the studio/broadcast width real audio lakes are full "
    "of; wider widths carry the values in the high bits and the "
    "decoder's arithmetic down-shift recovers them exactly), so the "
    "SAME oracle formula verifies every width and a byte-order or "
    "sign-extension slip fails the value check. Narrow, payloads "
    "never shuffle; swap the codec seam for ffmpeg for compressed "
    "audio.",
)
def mm05_audio_roundtrip_features(spark, sf_dir):
    from collections.abc import Iterator

    docs = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from ..multimodal.media import decode_audio, encode_wav

        for pdf in it:
            rows = []
            for mid in pdf["media_id"]:
                samples = (
                    (int(mid) * 37 + np.arange(_WAV_N) * 11) % 2003 - 1001
                ).astype(np.int16)
                # rotate 16/24/32-bit PCM layouts; the down-shift
                # recovers the int16 values exactly at every width
                width = (2, 3, 4)[(int(mid) // 3) % 3]
                decoded = decode_audio(
                    encode_wav(samples, sample_width=width), "wav"
                )
                rows.append(
                    (
                        int(mid),
                        int(decoded.size),
                        float(decoded.mean()),
                        int(decoded.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=["media_id", "n_samples", "mean_sample", "max_sample"],
            )

    return docs.mapInPandas(
        batches,
        schema="media_id long, n_samples int, mean_sample double, max_sample int",
    )


# ---------------------------------------------------------------------------
# MM6: REAL compressed-image round-trip — baseline PNG (zlib) in-engine
# ---------------------------------------------------------------------------


@register(
    "mm06_png_roundtrip_features",
    oracle=f"""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 16 + 1 AS INTEGER) AS width,
             CAST(doc_id % 8 + 1 AS INTEGER) AS height
      FROM documents WHERE doc_id % 3 = 0),
    px AS (
      SELECT media_id, width, height,
             list_transform(range(0, width * height),
               i -> (media_id * 31 + i * 7) % 256) AS pixels
      FROM m)
    SELECT media_id,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum(pixels) AS DOUBLE) / len(pixels) AS mean_intensity,
           CAST(list_max(pixels) AS BIGINT) AS max_intensity
    FROM px
    """,
    note="MM6 COMPRESSED image round-trip (VERDICT r3 #5): a "
    "deterministic grayscale image per media row is encoded to a real "
    "baseline PNG (stdlib zlib; per-row filter = media_id %% 5, so the "
    "corpus exercises None/Sub/Up/Average/Paeth) and decoded back "
    "through multimodal/media.py's pure-Python codec inside ONE "
    "mapInPandas pass — compress, DEFLATE, unfilter all on the hot "
    "path. Alternate rows ((media_id//3) %% 2) take the 16-BIT "
    "grayscale layout (VERDICT r7 item 3 — the codec gap real image "
    "lakes hit first): samples widen 8->16 bit as v*257, filters run "
    "at bpp=2 byte distance, and the decoder's 255/65535 rescale "
    "recovers every pixel bit-for-bit, so the SAME oracle formula "
    "verifies both depths. A single wrong byte anywhere in either "
    "codec path fails the value check. Narrow plan: payloads exist "
    "only inside the Python worker, zero bytes shuffle.",
)
def mm06_png_roundtrip_features(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 0
    ).select(
        F.col("doc_id").alias("media_id"),
        (F.col("doc_id") % 16 + 1).cast("int").alias("width"),
        (F.col("doc_id") % 8 + 1).cast("int").alias("height"),
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from ..multimodal.media import decode_payload, encode_png

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid, w, h = int(r.media_id), int(r.width), int(r.height)
                img = (
                    (mid * 31 + np.arange(w * h) * 7) % 256
                ).astype(np.uint8).reshape(h, w)
                # alternate rows encode through the 16-bit PNG layout
                # (v*257 widens 8->16 bit exactly, so the decode's
                # rint(v16 * 255/65535) recovers v bit-for-bit and the
                # oracle formula is depth-independent)
                if (mid // 3) % 2:
                    payload = encode_png(
                        img.astype(np.uint16) * 257, filter_type=mid % 5
                    )
                else:
                    payload = encode_png(img, filter_type=mid % 5)
                decoded = decode_payload(payload, "png", w, h)
                rows.append(
                    (
                        mid,
                        int(decoded.size),
                        float(decoded.mean()),
                        int(decoded.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_pixels", "mean_intensity", "max_intensity",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, n_pixels long, mean_intensity double, "
        "max_intensity long",
    )


# ---------------------------------------------------------------------------
# MM7: baseline JPEG round-trip — Huffman + DCT entropy pipeline in-engine
# ---------------------------------------------------------------------------


@register(
    "mm07_jpeg_roundtrip_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(8 * (doc_id % 5 + 1) AS INTEGER) AS width,
             CAST(8 * (doc_id % 2 + 1) AS INTEGER) AS height
      FROM documents WHERE doc_id % 3 = 0),
    px AS (
      SELECT media_id, width, height,
             list_transform(range(0, width * height),
               i -> (media_id * 37 + ((i // width) // 8) * 17
                     + ((i % width) // 8) * 29) % 256) AS pixels
      FROM m)
    SELECT media_id,
           CAST(width * height AS BIGINT) AS n_pixels,
           CAST(list_sum(pixels) AS DOUBLE) / len(pixels) AS mean_intensity,
           CAST(list_max(pixels) AS BIGINT) AS max_intensity
    FROM px
    """,
    note="MM7 JPEG round-trip (VERDICT r4 #8): per media row a "
    "deterministic block-constant grayscale image is encoded to a real "
    "baseline sequential JPEG (Annex K Huffman tables) and decoded "
    "back through multimodal/media.py's pure-Python codec — Huffman "
    "entropy coding, zigzag, quantization and the float DCT all on "
    "the hot path. JPEG is lossy in general, so the oracle pins the "
    "one exactness regime the math guarantees: images constant per "
    "8x8 block with DC quant step 8 have integer DC coefficients and "
    "zero AC, making the round-trip bit-exact — the DuckDB oracle "
    "recomputes the statistics from the pixel formula and any "
    "codec bit-error fails the value hash. Width uses doc_id % 5 "
    "(coprime with the % 3 row filter, ADVICE r5) so the oracle-gated "
    "query exercises 1..5-block-wide images, not just single-column "
    "MCUs. Round 7: rows ROTATE through the four scan layouts the "
    "codec speaks — baseline interleaved, SOF2 spectral-selection "
    "progressive (DC scan + AC band scans with EOB runs), "
    "non-interleaved 4:2:0 (one component per scan), and FULL "
    "two-dimensional progressive (spectral selection x successive "
    "approximation: Al=1 first scans + correction-bit refinement, "
    "the libjpeg default script shape) — all bit-exact in this "
    "regime, so the same oracle gates every layout. Narrow "
    "mapInPandas plan; payloads never leave the Python worker.",
)
def mm07_jpeg_roundtrip_features(spark, sf_dir):
    from collections.abc import Iterator

    from ..sources.io import fan_out

    # fan_out BEFORE the Python stage (r17, guide §2.5 + §4): this
    # query's mapInPandas input is three narrow int columns — the
    # images are GENERATED inside the worker — so a single-split scan
    # pins every encode/decode to ONE Python worker while 31 cores
    # idle. Hash-redistributing ~24 B/row is free and parallelizes the
    # codec work (measured at sf0.1: 1.37 s -> ~0.25 s execute); no
    # payload bytes cross the exchange, and at scale the scan already
    # carries enough splits so this is a no-op.
    media = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 0)
        .select(
            F.col("doc_id").alias("media_id"),
            (8 * (F.col("doc_id") % 5 + 1)).cast("int").alias("width"),
            (8 * (F.col("doc_id") % 2 + 1)).cast("int").alias("height"),
        ),
        "media_id",
    )

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from ..multimodal.media import decode_payload, encode_jpeg

        # DC step 8 => quantized DC == level-shifted block value, exact;
        # AC steps are irrelevant for block-constant images (all AC = 0)
        flat_quant = [8] + [16] * 63

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid, w, h = int(r.media_id), int(r.width), int(r.height)
                bvals = (
                    mid * 37
                    + np.arange(h // 8)[:, None] * 17
                    + np.arange(w // 8)[None, :] * 29
                ) % 256
                img = np.kron(bvals, np.ones((8, 8), np.int64)).astype(np.uint8)
                variant = (mid // 3) % 4
                kw = [
                    {},
                    {"progressive": True},
                    {"color_420": True, "interleaved": False},
                    {"progressive": True, "successive": True},
                ][variant]
                payload = encode_jpeg(img, quant=flat_quant, **kw)
                decoded = decode_payload(payload, "jpeg", w, h)
                rows.append(
                    (
                        mid,
                        int(decoded.size),
                        float(decoded.mean()),
                        int(decoded.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_pixels", "mean_intensity", "max_intensity",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, n_pixels long, mean_intensity double, "
        "max_intensity long",
    )


# ---------------------------------------------------------------------------
# MM8: audio spectral features — FFT feature extraction with exact oracle
# ---------------------------------------------------------------------------

MM8_N = 2048       # samples per clip (integer-cycle window)
MM8_RATE = 16000   # Hz; bin width 16000/2048 = 7.8125 (exact in binary)


@register(
    "mm08_audio_spectral_features",
    oracle=f"""
    SELECT doc_id AS media_id,
           CAST({MM8_N} AS BIGINT) AS n_samples,
           CAST(doc_id % 160 + 8 AS BIGINT) AS dominant_bin,
           CAST((doc_id % 160 + 8) * ({MM8_RATE} / {MM8_N}.0) AS DOUBLE)
             AS dominant_hz,
           CAST((doc_id % 120 + 100) * 100 AS BIGINT) AS est_amplitude
    FROM documents WHERE doc_id % 3 = 1
    """,
    note="MM8 audio DSP feature extraction: per media row a pure sine "
    "with an INTEGER number of cycles (frequency bin = media_id-"
    "derived) is synthesized, encoded through the real RIFF/WAV codec, "
    "decoded back, and FFT'd inside one mapInPandas pass; the emitted "
    "features are the dominant rFFT bin, its frequency in Hz, and the "
    "amplitude recovered from the peak magnitude (2|X[k]|/N). "
    "Integer-cycle sines concentrate ALL energy in one bin, so the "
    "oracle states the expected features in closed form — bin "
    "detection is exact and amplitude recovery rounds to the true "
    "int16 amplitude (validated error < 0.25 LSB). The audio-side "
    "companion to mm06/mm07: codec + spectral pipeline both on the "
    "hot path, zero payload bytes leaving the Python worker.",
)
def mm08_audio_spectral_features(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from ..multimodal.media import decode_audio, encode_wav

        n = MM8_N
        t_idx = np.arange(n)
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                f_bin = mid % 160 + 8
                amp = (mid % 120 + 100) * 100
                wave_i16 = np.round(
                    amp * np.sin(2 * np.pi * f_bin * t_idx / n)
                ).astype(np.int16)
                decoded = decode_audio(encode_wav(wave_i16, MM8_RATE), "wav")
                mag = np.abs(np.fft.rfft(decoded.astype(np.float64)))
                k = int(np.argmax(mag[1:])) + 1  # skip DC
                est_amp = int(np.floor(2.0 * mag[k] / n + 0.5))
                rows.append(
                    (mid, n, k, k * (MM8_RATE / float(n)), est_amp)
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_samples", "dominant_bin",
                    "dominant_hz", "est_amplitude",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, n_samples long, dominant_bin long, "
        "dominant_hz double, est_amplitude long",
    )


# ---------------------------------------------------------------------------
# MM9: mp4 / ISO BMFF container metadata extraction
# ---------------------------------------------------------------------------


@register(
    "mm09_mp4_container_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           'isom' AS major_brand,
           CAST(1000 AS BIGINT) AS timescale,
           CAST((doc_id * 341) % 100000 + 1000 AS BIGINT) AS duration,
           CAST(doc_id % 3 + 1 AS BIGINT) AS n_tracks,
           CAST((doc_id * 97) % 2048 AS BIGINT) AS mdat_bytes
    FROM documents WHERE doc_id % 4 = 1
    """,
    note="MM9 mp4 container metadata (ISO/IEC 14496-12): per media row "
    "a deterministic ISO BMFF skeleton (ftyp + moov(mvhd + N x trak) "
    "+ mdat) is built and re-parsed by the pure-Python box walker — "
    "the metadata-extraction pass a media lake runs before any codec "
    "touches bytes (brand sniffing, duration/track accounting, "
    "payload sizing). The oracle recomputes every field from the "
    "generation formulas, so a box-walk bug (size arithmetic, "
    "largesize, mvhd versioning) fails the value hash; all outputs "
    "are integers/strings — no float policy needed. Narrow "
    "mapInPandas; payloads never leave the Python worker; codec-level "
    "decode (samples, frames) stays behind the documented "
    "NotImplementedError seam (fragmented moof files raise there "
    "too).",
)
def mm09_mp4_container_metadata(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 1
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        from ..multimodal.media import (
            encode_mp4_container,
            parse_mp4_metadata,
        )

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                payload = encode_mp4_container(
                    duration=(mid * 341) % 100000 + 1000,
                    timescale=1000,
                    n_tracks=mid % 3 + 1,
                    mdat_size=(mid * 97) % 2048,
                )
                meta = parse_mp4_metadata(payload)
                rows.append(
                    (
                        mid,
                        meta["major_brand"],
                        meta["timescale"],
                        meta["duration"],
                        meta["n_tracks"],
                        meta["mdat_bytes"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "major_brand", "timescale",
                    "duration", "n_tracks", "mdat_bytes",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, major_brand string, timescale long, "
        "duration long, n_tracks long, mdat_bytes long",
    )


# ---------------------------------------------------------------------------
# MM10: mp4 sample-table index extraction (stsz — the seek index)
# ---------------------------------------------------------------------------


@register(
    "mm10_mp4_sample_index",
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 2 + 1 AS n_tracks
               FROM documents WHERE doc_id % 4 = 2),
    tr AS (SELECT doc_id, unnest(generate_series(0, n_tracks - 1)) AS t
           FROM m),
    s AS (SELECT doc_id, t,
                 list_transform(
                   generate_series(0, 4 + (doc_id + t) % 5 - 1),
                   i -> 100 + ((doc_id + t * 7 + i * 3) % 40)) AS sizes
          FROM tr)
    SELECT doc_id AS media_id, CAST(t AS BIGINT) AS track_idx,
           CAST(len(sizes) AS BIGINT) AS n_samples,
           CAST(list_sum(sizes) AS BIGINT) AS total_bytes,
           CAST(list_max(sizes) AS BIGINT) AS max_bytes,
           CAST(list_min(sizes) AS BIGINT) AS min_bytes
    FROM s
    """,
    note="MM10 mp4 sample-table index (ISO 14496-12 8.7.3 stsz): "
    "walk moov/trak/mdia/minf/stbl per track and read the "
    "sample-size table — the byte-range index that seeking, "
    "keyframe extraction and range-request planning consume, read "
    "WITHOUT touching codec bytes (the container layer mm09 "
    "started, one level deeper). The encoder embeds spec-shaped "
    "mdia(mdhd + minf(stbl(stsz + stco))) chains; the parser "
    "handles both stsz forms (constant sample_size and per-sample "
    "entries) and reports per-track sample count + byte stats, all "
    "integers recomputed by the oracle from the generation "
    "formulas. Narrow mapInPandas; a real lake pass would follow "
    "with byte-range reads of exactly the samples a frame-sampling "
    "policy picks (mm03's slice arithmetic at container scale).",
)
def mm10_mp4_sample_index(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 2
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        from ..multimodal.media import (
            encode_mp4_container,
            parse_mp4_sample_index,
        )

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                n_tracks = mid % 2 + 1
                sizes = [
                    [
                        100 + ((mid + tk * 7 + i * 3) % 40)
                        for i in range(4 + (mid + tk) % 5)
                    ]
                    for tk in range(n_tracks)
                ]
                payload = encode_mp4_container(
                    duration=(mid * 211) % 50000 + 500,
                    n_tracks=n_tracks,
                    sample_sizes=sizes,
                )
                for tr in parse_mp4_sample_index(payload):
                    rows.append(
                        (
                            mid,
                            tr["track_idx"],
                            tr["n_samples"],
                            tr["total_bytes"],
                            tr["max_bytes"],
                            tr["min_bytes"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "track_idx", "n_samples",
                    "total_bytes", "max_bytes", "min_bytes",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, track_idx long, n_samples long, "
        "total_bytes long, max_bytes long, min_bytes long",
    )


# ---------------------------------------------------------------------------
# MM11: mp4 seek layer — per-sample absolute byte ranges
# ---------------------------------------------------------------------------


@register(
    "mm11_mp4_sample_ranges",
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 2 + 1 AS n_tracks
               FROM documents WHERE doc_id % 4 = 3),
    tr AS (SELECT doc_id, unnest(generate_series(0, n_tracks - 1)) AS t
           FROM m),
    s AS (SELECT doc_id, t, 4 + (doc_id + t) % 5 AS n FROM tr),
    -- closed-form header size: ftyp 28 + moov hdr 8 + mvhd 108 +
    -- per trak (208 fixed + stsz 4n + stsc 12e + stco 4c) + mdat hdr 8
    -- with c = ceil(n/2) chunks of 2 and e = 1 run (n even) or 2 (odd)
    hdr AS (SELECT doc_id,
                   152 + SUM(208 + 4 * n
                             + 12 * (CASE WHEN n % 2 = 0 THEN 1 ELSE 2 END)
                             + 4 * ((n + 1) // 2)) AS data_start
            FROM s GROUP BY doc_id),
    samp AS (SELECT doc_id, t, unnest(generate_series(0, n - 1)) AS i
             FROM s),
    sz AS (SELECT doc_id, t, i,
                  100 + ((doc_id + t * 7 + i * 3) % 40) AS size
           FROM samp),
    ofs AS (SELECT doc_id, t, i, size,
                   SUM(size) OVER (
                     PARTITION BY doc_id ORDER BY t, i
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                   ) AS prior
            FROM sz)
    SELECT o.doc_id AS media_id,
           CAST(o.t AS BIGINT) AS track_idx,
           CAST(o.i AS BIGINT) AS sample_idx,
           CAST(o.i // 2 AS BIGINT) AS chunk_idx,
           CAST(o.size AS BIGINT) AS sample_bytes,
           CAST(h.data_start + COALESCE(o.prior, 0) AS BIGINT)
             AS sample_offset
    FROM ofs o JOIN hdr h ON o.doc_id = h.doc_id
    """,
    note="MM11 mp4 seek layer (ISO 14496-12 8.7.3-8.7.5): the full "
    "sample-lookup join — stsz sizes x stsc sample-to-chunk runs x "
    "stco/co64 chunk offsets — resolved to ABSOLUTE per-sample byte "
    "ranges, i.e. exactly what a frame-sampling pass range-reads "
    "from object storage without decoding (mm10 stopped at size "
    "stats; this closes VERDICT r6 item 2). The encoder lays real "
    "sample bytes into mdat in chunks of 2 (sequential track-major "
    "layout, two-pass muxer: size moov, then assign offsets); the "
    "parser runs the spec algorithm with no layout assumption "
    "(run-length stsc, short tail chunk, co64 fallback). The oracle "
    "recomputes every offset closed-form: header size from the box "
    "grammar (trak = 208 fixed bytes + 4n stsz + 12e stsc + 4c "
    "stco) plus a running sum over prior samples — one wrong box "
    "length anywhere shifts every offset and fails the hash. "
    "tests/test_multimodal.py slices samples back out of the file "
    "by these ranges bit-exactly. Narrow mapInPandas; at 100 TB "
    "the ranges table is the shuffle-free index for byte-range "
    "GETs of picked frames.",
)
def mm11_mp4_sample_ranges(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 3
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        from ..multimodal.media import (
            encode_mp4_container,
            parse_mp4_sample_ranges,
        )

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                n_tracks = mid % 2 + 1
                sizes = [
                    [
                        100 + ((mid + tk * 7 + i * 3) % 40)
                        for i in range(4 + (mid + tk) % 5)
                    ]
                    for tk in range(n_tracks)
                ]
                payload = encode_mp4_container(
                    duration=(mid * 131) % 50000 + 500,
                    n_tracks=n_tracks,
                    sample_sizes=sizes,
                    samples_per_chunk=2,
                )
                for s in parse_mp4_sample_ranges(payload):
                    rows.append(
                        (
                            mid,
                            s["track_idx"],
                            s["sample_idx"],
                            s["chunk_idx"],
                            s["size"],
                            s["offset"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "track_idx", "sample_idx",
                    "chunk_idx", "sample_bytes", "sample_offset",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, track_idx long, sample_idx long, "
        "chunk_idx long, sample_bytes long, sample_offset long",
    )


# ---------------------------------------------------------------------------
# MM12: fMP4 / DASH seek layer — per-sample byte ranges from fragments
# ---------------------------------------------------------------------------


@register(
    "mm12_fmp4_sample_ranges",
    oracle="""
    WITH m AS (SELECT doc_id, doc_id % 2 + 1 AS n_tracks
               FROM documents WHERE doc_id % 4 = 0),
    tr AS (SELECT doc_id, n_tracks,
                  unnest(generate_series(0, n_tracks - 1)) AS t
           FROM m),
    s AS (SELECT doc_id, n_tracks, t, 4 + (doc_id + t) % 5 AS n FROM tr),
    samp AS (SELECT doc_id, n_tracks, t,
                    unnest(generate_series(0, n - 1)) AS i
             FROM s),
    sz AS (SELECT doc_id, n_tracks, t, i,
                  100 + ((doc_id + t * 7 + i * 3) % 40) AS size
           FROM samp),
    -- fragments of 2 samples, track-major; per-fragment sample count
    -- k and payload bytes feed both the moof size (68 + 4k) and the
    -- running fragment-start offsets
    fr AS (SELECT doc_id, t, i // 2 AS f,
                  COUNT(*) AS k, SUM(size) AS bytes
           FROM sz GROUP BY 1, 2, 3),
    frag_ord AS (
      SELECT doc_id, t, f, k,
             SUM(68 + 4 * k + 8 + bytes) OVER (
               PARTITION BY doc_id ORDER BY t, f
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_frags
      FROM fr),
    ofs AS (
      SELECT z.doc_id, z.n_tracks, z.t, z.i, z.size, fo.k, fo.prior_frags,
             SUM(z.size) OVER (
               PARTITION BY z.doc_id, z.t, z.i // 2 ORDER BY z.i
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
             ) AS prior_in_frag
      FROM sz z JOIN frag_ord fo
        ON z.doc_id = fo.doc_id AND z.t = fo.t AND z.i // 2 = fo.f)
    SELECT doc_id AS media_id,
           CAST(t AS BIGINT) AS track_idx,
           CAST(i AS BIGINT) AS sample_idx,
           CAST(i // 2 AS BIGINT) AS chunk_idx,
           CAST(size AS BIGINT) AS sample_bytes,
           -- ftyp 28 + moov (140 + 240/track with empty stbl + mvex)
           -- + prior fragments + this moof (68 + 4k) + mdat hdr 8
           -- + prior samples in this fragment
           CAST(28 + 140 + 240 * n_tracks + COALESCE(prior_frags, 0)
                + 68 + 4 * k + 8 + COALESCE(prior_in_frag, 0)
                AS BIGINT) AS sample_offset
    FROM ofs
    """,
    note="MM12 fMP4/DASH seek layer (14496-12 8.8) — the fragmented "
    "twin of mm11 and what a streaming-video lake actually stores: "
    "moov carries EMPTY sample tables + mvex, and every "
    "moof(traf(tfhd + trun)) fragment carries its own sample sizes "
    "with default-base-is-moof addressing. The parser resolves "
    "absolute per-sample byte ranges from the trun walk (chunk_idx "
    "= fragment ordinal, sample ordinals continue across "
    "fragments); the oracle recomputes every offset closed-form "
    "from the box grammar — fragment-start running sums over "
    "(68 + 4k) moof sizes — so one wrong box length anywhere in "
    "the moof chain shifts every later offset and fails the hash. "
    "tests/test_multimodal.py slices fragment samples back out "
    "bit-exactly and drives frame sampling off fMP4 rows. Narrow "
    "mapInPandas; at scale these ranges are the byte-range GET "
    "index for DASH segment reads.",
)
def mm12_fmp4_sample_ranges(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 4 == 0
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import pandas as pd

        from ..multimodal.media import (
            encode_mp4_container,
            parse_mp4_sample_ranges,
        )

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                n_tracks = mid % 2 + 1
                sizes = [
                    [
                        100 + ((mid + tk * 7 + i * 3) % 40)
                        for i in range(4 + (mid + tk) % 5)
                    ]
                    for tk in range(n_tracks)
                ]
                payload = encode_mp4_container(
                    duration=(mid * 211) % 50000 + 500,
                    n_tracks=n_tracks,
                    sample_sizes=sizes,
                    fragment_samples=2,
                )
                for s in parse_mp4_sample_ranges(payload):
                    rows.append(
                        (
                            mid,
                            s["track_idx"],
                            s["sample_idx"],
                            s["chunk_idx"],
                            s["size"],
                            s["offset"],
                        )
                    )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "track_idx", "sample_idx",
                    "chunk_idx", "sample_bytes", "sample_offset",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, track_idx long, sample_idx long, "
        "chunk_idx long, sample_bytes long, sample_offset long",
    )


# ---------------------------------------------------------------------------
# MM13: EXIF metadata extraction (JPEG APP1 / TIFF IFD walk)
# ---------------------------------------------------------------------------


@register(
    "mm13_exif_metadata",
    oracle="""
    SELECT doc_id AS media_id,
           CASE WHEN doc_id % 2 = 1 THEN 'MM' ELSE 'II' END AS byte_order,
           'Cam' || CAST(doc_id % 5 AS VARCHAR) AS make,
           CAST(doc_id % 8 + 1 AS BIGINT) AS orientation,
           CAST(72 + doc_id % 3 AS DOUBLE) AS x_resolution,
           printf('2024:%02d:%02d 00:00:00',
                  doc_id % 12 + 1, doc_id % 28 + 1) AS datetime,
           CAST(320 + (doc_id % 7) * 16 AS BIGINT) AS pixel_x,
           CAST(240 + (doc_id % 5) * 16 AS BIGINT) AS pixel_y
    FROM documents WHERE doc_id % 5 = 2
    """,
    note="MM13 EXIF extraction — the metadata pass every image lake "
    "runs before any pixel is decoded (orientation for auto-rotate, "
    "capture time for dedup/partitioning, camera make/model for "
    "source analytics): a real APP1 segment (TIFF 6.0 IFD grammar) "
    "is built per row — alternating little/big endian, inline AND "
    "out-of-line values, ASCII/SHORT/LONG/RATIONAL types, the Exif "
    "sub-IFD chain — spliced after SOI, and re-parsed by the "
    "pure-Python TIFF walker; rows alternate byte order so BOTH "
    "endian paths are driver-gated. The oracle recomputes every "
    "field from the generation formulas, so an IFD arithmetic bug "
    "(entry stride, out-of-line offsets, rational decode, sub-IFD "
    "pointer) fails the value hash. Narrow mapInPandas; EXIF reads "
    "touch only the header bytes, never the image payload — the "
    "byte-range profile that makes metadata passes cheap at 100 TB.",
)
def mm13_exif_metadata(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 5 == 2
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from ..multimodal.media import (
            encode_exif_app1,
            encode_jpeg,
            insert_app1,
            parse_exif,
        )

        base = encode_jpeg(np.zeros((8, 8), np.uint8))
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                app1 = encode_exif_app1(
                    {
                        "make": f"Cam{mid % 5}",
                        "orientation": mid % 8 + 1,
                        "x_resolution": (72 + mid % 3, 1),
                        "datetime": "2024:%02d:%02d 00:00:00"
                        % (mid % 12 + 1, mid % 28 + 1),
                        "pixel_x": 320 + (mid % 7) * 16,
                        "pixel_y": 240 + (mid % 5) * 16,
                    },
                    big_endian=mid % 2 == 1,
                )
                meta = parse_exif(insert_app1(base, app1))
                rows.append(
                    (
                        mid,
                        meta["byte_order"],
                        meta["make"],
                        meta["orientation"],
                        meta["x_resolution"],
                        meta["datetime"],
                        meta["pixel_x"],
                        meta["pixel_y"],
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "byte_order", "make", "orientation",
                    "x_resolution", "datetime", "pixel_x", "pixel_y",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, byte_order string, make string, "
        "orientation long, x_resolution double, datetime string, "
        "pixel_x long, pixel_y long",
    )


# ---------------------------------------------------------------------------
# MM14: animated GIF round-trip — the viz sink's encoder under the gate
# ---------------------------------------------------------------------------


@register(
    "mm14_gif_roundtrip_features",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             CAST(doc_id % 5 + 1 AS INTEGER) AS n_frames,
             CAST(doc_id % 12 + 2 AS INTEGER) AS width,
             CAST(doc_id % 6 + 2 AS INTEGER) AS height
      FROM documents WHERE doc_id % 3 = 2),
    px AS (
      SELECT media_id, n_frames, width, height,
             list_transform(range(0, n_frames * width * height),
               i -> (media_id * 41 + i * 13) % 256) AS pixels
      FROM m)
    SELECT media_id,
           CAST(n_frames AS BIGINT) AS n_frames,
           CAST(n_frames * width * height AS BIGINT) AS n_pixels,
           CAST(list_sum(pixels) AS DOUBLE) / len(pixels) AS mean_intensity,
           CAST(list_max(pixels) AS BIGINT) AS max_intensity
    FROM px
    """,
    note="MM14 ANIMATED raster round-trip: per media row a "
    "deterministic multi-frame sequence is encoded to a real "
    "animated GIF89a (multimodal/media.py encode_gif — the spec's "
    "variable-width LZW with decoder-clocked code widths, validated "
    "bit-for-bit against javax.imageio, incl. the table-full clear "
    "path) and decoded back through the repo's own decoder inside "
    "ONE mapInPandas pass. GIF is the gganimate artifact the "
    "reference ends its field-control pipeline in (Field "
    "Control.R:198-219); sinks/viz.py animate_control_surfaces "
    "renders e03's per-frame surfaces through the same encoder, so "
    "this query is the driver-gated proof of that sink's codec. The "
    "oracle recomputes the statistics from the pixel formula — LZW "
    "is lossless, so any bit divergence anywhere in "
    "encode/sub-blocking/decode fails the value hash. Rows rotate "
    "the three color-table layouts by (media_id//3) %% 3 (r11, "
    "VERDICT item 6 — local-table seam closed): global-only, "
    "per-frame LOCAL tables over a global, and local-tables-with-NO-"
    "global (the optimized-animation layouts real GIF corpora are "
    "full of), crossed with the Appendix-E INTERLACE axis by "
    "(media_id//9) %% 2 (4-pass row transmission order, also r11); "
    "indices are layout-invariant, so the SAME oracle formula "
    "verifies every combination — a mis-parsed table length desyncs "
    "the LZW stream and a wrong de-interleave permutes rows, either "
    "failing the hash. Narrow plan: payloads exist only inside the "
    "Python worker, zero bytes shuffle.",
)
def mm14_gif_roundtrip_features(spark, sf_dir):
    from collections.abc import Iterator

    from ..sources.io import fan_out

    # fan_out before the Python stage — mm07's rationale: the input is
    # four narrow ints (payloads are generated in-worker), so the
    # redistribution is payload-free and turns a one-worker LZW
    # encode/decode loop into a cluster-wide one; no-op at scale.
    media = fan_out(
        t(spark, sf_dir, "documents")
        .filter(F.col("doc_id") % 3 == 2)
        .select(
            F.col("doc_id").alias("media_id"),
            (F.col("doc_id") % 5 + 1).cast("int").alias("n_frames"),
            (F.col("doc_id") % 12 + 2).cast("int").alias("width"),
            (F.col("doc_id") % 6 + 2).cast("int").alias("height"),
        ),
        "media_id",
    )

    def batches(it: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        import numpy as np
        import pandas as pd

        from ..multimodal.media import decode_gif_frames, encode_gif

        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid, nf = int(r.media_id), int(r.n_frames)
                w, h = int(r.width), int(r.height)
                seq = (
                    (mid * 41 + np.arange(nf * w * h) * 13) % 256
                ).astype(np.uint8)
                frames = [
                    seq[k * w * h : (k + 1) * w * h].reshape(h, w)
                    for k in range(nf)
                ]
                # rotate the three color-table layouts and the
                # interlace axis independently; indices (and
                # therefore every feature below) are layout-invariant
                layout = (mid // 3) % 3
                ilace = (mid // 9) % 2 == 1
                if layout == 0:
                    payload = encode_gif(
                        frames, delay_cs=mid % 20 + 2, interlace=ilace
                    )
                else:
                    locs = [
                        np.roll(
                            np.stack([np.arange(256, dtype=np.uint8)] * 3,
                                     axis=1),
                            (mid + k) % 256, axis=0,
                        )
                        for k in range(nf)
                    ]
                    payload = encode_gif(
                        frames,
                        delay_cs=mid % 20 + 2,
                        local_palettes=locs,
                        include_global=(layout == 1),
                        interlace=ilace,
                    )
                decoded, _pal = decode_gif_frames(payload)
                flat = np.concatenate([f.reshape(-1) for f in decoded])
                rows.append(
                    (
                        mid,
                        len(decoded),
                        int(flat.size),
                        float(flat.mean()),
                        int(flat.max()),
                    )
                )
            yield pd.DataFrame(
                rows,
                columns=[
                    "media_id", "n_frames", "n_pixels",
                    "mean_intensity", "max_intensity",
                ],
            )

    return media.mapInPandas(
        batches,
        schema="media_id long, n_frames long, n_pixels long, "
        "mean_intensity double, max_intensity long",
    )


# ---------------------------------------------------------------------------
# MM15: image perceptual-hash (dHash) near-dup pairs
# ---------------------------------------------------------------------------

IMG_HAM_K = 6    # near-dup if hamming(dhash) <= 6
IMG_BANDS = 7    # 7 bands x 8 bits: k < bands -> pigeonhole guarantee
_IMG_BAND_BITS = 8

# closed-form dhash in DuckDB: the fake codec's tiled-byte pixel list
# (mm02's formula) sampled on the same 8x8 nearest-neighbor grid with
# identical integer arithmetic; << on BIGINT keeps all 56 bits exact.
_DHASH_SQL = f"""
  WITH m AS ({_MEDIA_SQL}),
  hx AS (
    SELECT media_id, width, height, octet_length(payload) AS n_bytes,
           lower(hex(payload)) AS h
    FROM m WHERE media_type = 'image'
  ),
  px AS (
    SELECT media_id, width, height,
           list_transform(
             range(0, width * height),
             i -> (strpos('0123456789abcdef',
                     substr(h, CAST(2 * (i % n_bytes) + 1 AS BIGINT), 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                     substr(h, CAST(2 * (i % n_bytes) + 2 AS BIGINT), 1)) - 1)
           ) AS pixels
    FROM hx
  ),
  dh AS (
    SELECT media_id,
           list_sum(list_transform(range(0, 56), b ->
             CASE WHEN pixels[CAST(((b // 7) * height // 8) * width
                       + ((b % 7 + 1) * width // 8) + 1 AS BIGINT)]
                     > pixels[CAST(((b // 7) * height // 8) * width
                       + ((b % 7) * width // 8) + 1 AS BIGINT)]
                  THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                  ELSE CAST(0 AS BIGINT) END)) AS dhash
    FROM px
  )
"""


@register(
    "mm15_image_dhash_neardup",
    oracle=_DHASH_SQL
    + f"""
    SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
           bit_count(xor(a.dhash, b.dhash)) AS hamming
    FROM dh a JOIN dh b ON a.media_id < b.media_id
    WHERE bit_count(xor(a.dhash, b.dhash)) <= {IMG_HAM_K}
    """,
    note="MM15 image near-dup via 56-bit dHash (multimodal/media.py "
    "image_dhash): the perceptual fingerprint that catches re-encoded "
    "/ brightness-shifted duplicates an exact byte hash misses — the "
    "image face of d06's SimHash dedup. Decode + hash ride ONE "
    "Arrow-batched mapInPandas pass (payloads never reach the JVM); "
    f"candidates come from {IMG_BANDS} 8-bit pigeonhole bands "
    f"(hamming <= {IMG_HAM_K} < {IMG_BANDS} bands guarantees an exact "
    "band match) with the same bucket-local i<j pair emission as "
    "d02/d06 — O(sum bucket^2), never all-pairs — then exact "
    "bit_count(xor) verification on candidates only. The oracle "
    "recomputes every hash closed-form from the generative pixel "
    "formula and brute-forces the pairs, so the banding path is "
    "proven to MISS NOTHING at test scale.",
)
def mm15_image_dhash_neardup(spark, sf_dir):
    return _mm15_pairs(_mm15_dhash_table(spark, sf_dir))


def _mm15_dhash_table(spark, sf_dir):
    from ..multimodal.media import image_dhash

    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        F.col("media_type") == "image"
    )
    return image_dhash(media)


def _mm15_band_rows(dh):
    """One row per (image, band): the 8-bit pigeonhole bucket keys the
    pair builder groups on and the capped spelling audits."""
    return hash_bands(dh, "media_id", "dhash", IMG_BANDS, _IMG_BAND_BITS)


def _mm15_pairs(dh, max_bucket: int | None = None):
    """mm15's banded near-dup pairs from a DataFrame[media_id, dhash],
    via `banding.hamming_pairs` (its docstring states the recall
    contract under `max_bucket`). A capped viral perceptual cluster —
    thousands of near-identical thumbnails sharing a band key — is
    duplicate-shaped; route it to d01/d05 exact grouping +
    survivorship."""
    return hamming_pairs(
        dh, "media_id", "dhash", IMG_BANDS, _IMG_BAND_BITS, IMG_HAM_K,
        max_bucket,
    ).withColumnsRenamed({"a": "id_a", "b": "id_b"})


def mm15_image_dhash_neardup_capped(spark, sf_dir, max_bucket: int):
    """mm15 with the adversarial-skew cap: returns (matches, audit)
    where `audit` lists every (band, bkey, bucket_size) the cap
    excluded from pair generation — run it or the truncation is
    silent (the j11/j13 capped-twin contract). Identical to the
    registered mm15 wherever no band bucket exceeds `max_bucket`;
    where one does, the dropped pairs are exactly those whose lowest
    agreeing band is the hot bucket (see `banding.hamming_pairs`)."""
    # NOT checkpointed (A/B-measured): although the capped spelling
    # references the dhash table three times (cap pre-pass, bucket
    # build, audit), a localCheckpoint here measured as a wash at
    # sf0.1 (1.64 s vs 1.67 s warm under identical ambient) — the
    # three consumers share the Arrow decode via exchange reuse well
    # enough that the eager checkpoint job only moves the cost.
    dh = _mm15_dhash_table(spark, sf_dir)
    matches = _mm15_pairs(dh, max_bucket=max_bucket)
    audit = oversized_buckets(
        _mm15_band_rows(dh), ("band", "bkey"), max_bucket
    )
    return matches, audit


MM15_MAX_BUCKET = 16   # gate-tuned to bite on the real bucket mix:
#                        at sf0.01 the 7 flat-raster buckets
#                        (all-zero band keys, sizes 19-25) are
#                        audited out while the <=9 tail keeps pairing


@register(
    "mm15b_image_dhash_capped_audit",
    oracle=_DHASH_SQL
    + f"""
    , bb AS (SELECT unnest(range(0, {IMG_BANDS})) AS band),
    bands AS (
      SELECT dh.media_id, dh.dhash, bb.band,
             (dh.dhash >> CAST(bb.band * {_IMG_BAND_BITS} AS INTEGER))
               & {(1 << _IMG_BAND_BITS) - 1} AS bkey
      FROM dh, bb),
    sz AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS bucket_size
           FROM bands GROUP BY 1, 2),
    low AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             a.dhash AS da, b.dhash AS db,
             min(bb.band) AS low_band
      FROM dh a JOIN dh b ON a.media_id < b.media_id
      JOIN bb ON ((a.dhash >> CAST(bb.band * {_IMG_BAND_BITS}
                     AS INTEGER)) & {(1 << _IMG_BAND_BITS) - 1})
               = ((b.dhash >> CAST(bb.band * {_IMG_BAND_BITS}
                     AS INTEGER)) & {(1 << _IMG_BAND_BITS) - 1})
      GROUP BY 1, 2, 3, 4)
    SELECT 'match' AS facet,
           CAST(NULL AS BIGINT) AS band, CAST(NULL AS BIGINT) AS bkey,
           l.id_a, l.id_b,
           CAST(bit_count(xor(l.da, l.db)) AS BIGINT) AS hamming,
           CAST(NULL AS BIGINT) AS bucket_size
    FROM low l JOIN sz s
      ON s.band = l.low_band
     AND s.bkey = ((l.da >> CAST(l.low_band * {_IMG_BAND_BITS}
                      AS INTEGER)) & {(1 << _IMG_BAND_BITS) - 1})
    WHERE s.bucket_size <= {MM15_MAX_BUCKET}
      AND bit_count(xor(l.da, l.db)) <= {IMG_HAM_K}
    UNION ALL
    SELECT 'oversized_bucket', CAST(band AS BIGINT),
           CAST(bkey AS BIGINT), NULL, NULL, NULL, bucket_size
    FROM sz WHERE bucket_size > {MM15_MAX_BUCKET}
    """,
    note="MM15b: the PRODUCTION spelling of mm15 — "
    f"mm15_image_dhash_neardup_capped(max_bucket={MM15_MAX_BUCKET}) "
    "executed and gate-verified (the j11b/j13b/v03b capped-twin "
    "precedent), match + oversized-bucket "
    "facets in one cell-for-cell-oracled output so the cap's "
    "truncation is never silent. The cap BITES PARTIALLY on the real "
    "bucket mix (sf0.01: the 7 flat-raster band buckets — all-zero "
    "keys, sizes 19-25, a genuine viral-thumbnail shape the "
    "generative corpus happens to plant — are audited out; the <=9 "
    "tail keeps pairing). Recall contract, exact and oracle-stated: "
    "a pair is dropped iff its LOWEST agreeing band's bucket is hot "
    "— the cap composes with the first-agreeing-band emission so "
    "each pair is attributed to exactly one bucket (no pair-keyed "
    "state, and no pair silently half-survives via a higher band). "
    "Hot clusters are duplicate-shaped; d01/d05 exact grouping + "
    "survivorship is the documented route for them. Reducer state "
    f"<= {MM15_MAX_BUCKET} x 16 B per bucket by construction "
    "(banding.drop_oversized_buckets pre-filters BEFORE the "
    "collect_list); the planted-hot-bucket pytest "
    "(tests/test_multimodal.py "
    "test_mm15_bucket_cap_under_adversarial_skew) pins the "
    "equivalence capped == uncapped minus hot-lowest-band pairs.",
)
def mm15b_image_dhash_capped_audit(spark, sf_dir):
    matches, audit = mm15_image_dhash_neardup_capped(
        spark, sf_dir, MM15_MAX_BUCKET
    )
    m = matches.select(
        F.lit("match").alias("facet"),
        F.lit(None).cast("bigint").alias("band"),
        F.lit(None).cast("bigint").alias("bkey"),
        F.col("id_a"),
        F.col("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
        F.lit(None).cast("bigint").alias("bucket_size"),
    )
    a = audit.select(
        F.lit("oversized_bucket").alias("facet"),
        F.col("band").cast("bigint").alias("band"),
        F.col("bkey").cast("bigint").alias("bkey"),
        F.lit(None).cast("bigint").alias("id_a"),
        F.lit(None).cast("bigint").alias("id_b"),
        F.lit(None).cast("bigint").alias("hamming"),
        F.col("bucket_size").cast("bigint").alias("bucket_size"),
    )
    return m.unionByName(a)


# ---------------------------------------------------------------------------
# MM16: video near-dup via frame-fingerprint containment
# ---------------------------------------------------------------------------

VID_CONTAIN_MIN = 0.5   # near-dup if >= half the smaller video's
#                         distinct (non-blank) frame hashes are shared

# per-frame dhash, closed-form: mm03's frame slicing + mm15's tiled
# pixel formula + the 56-bit comparison sum, all in DuckDB arithmetic
_VID_DHASH_SQL = f"""
  WITH m AS ({_MEDIA_SQL}),
  v AS (
    SELECT media_id, width, height, n_frames,
           octet_length(payload) AS n, lower(hex(payload)) AS h
    FROM m WHERE media_type = 'video' AND n_frames > 0
  ),
  fr AS (
    SELECT media_id, width, height, n, h,
           greatest(n // n_frames, 1) AS frame_len,
           unnest(range(0, n_frames)) AS k
    FROM v
  ),
  fb AS (
    SELECT media_id, width, height, h, k,
           k * frame_len AS off,
           least(frame_len, greatest(n - k * frame_len, 0)) AS fb_len
    FROM fr
  ),
  px AS (
    SELECT media_id, k, width, height,
           list_transform(
             range(0, width * height),
             i -> (strpos('0123456789abcdef',
                     substr(h, CAST(2 * (off + i % fb_len) + 1
                       AS BIGINT), 1)) - 1) * 16
                + (strpos('0123456789abcdef',
                     substr(h, CAST(2 * (off + i % fb_len) + 2
                       AS BIGINT), 1)) - 1)
           ) AS pixels
    FROM fb WHERE fb_len > 0
  ),
  dh AS (
    SELECT media_id, k,
           list_sum(list_transform(range(0, 56), b ->
             CASE WHEN pixels[CAST(((b // 7) * height // 8) * width
                       + ((b % 7 + 1) * width // 8) + 1 AS BIGINT)]
                     > pixels[CAST(((b // 7) * height // 8) * width
                       + ((b % 7) * width // 8) + 1 AS BIGINT)]
                  THEN CAST(1 AS BIGINT) << CAST(b AS INTEGER)
                  ELSE CAST(0 AS BIGINT) END)) AS fhash
    FROM px
  )
"""


@register(
    "mm16_video_frame_neardup",
    oracle=_VID_DHASH_SQL
    + f"""
    , hs AS (SELECT DISTINCT media_id, fhash FROM dh WHERE fhash <> 0),
    sizes AS (SELECT media_id, COUNT(*) AS n_hashes FROM hs GROUP BY 1),
    shared AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b, COUNT(*) AS n_shared
      FROM hs a JOIN hs b ON a.fhash = b.fhash AND a.media_id < b.media_id
      GROUP BY 1, 2)
    SELECT s.id_a, s.id_b, CAST(s.n_shared AS BIGINT) AS n_shared,
           CAST(s.n_shared AS DOUBLE)
             / least(sa.n_hashes, sb.n_hashes) AS containment
    FROM shared s
    JOIN sizes sa ON s.id_a = sa.media_id
    JOIN sizes sb ON s.id_b = sb.media_id
    WHERE CAST(s.n_shared AS DOUBLE)
            / least(sa.n_hashes, sb.n_hashes) >= {VID_CONTAIN_MIN!r}
    """,
    note="MM16 video near-dup via frame-fingerprint containment — the "
    "frame-sampling + per-frame-hash + set-overlap shape production "
    "video dedup runs: every frame is dHashed in the same "
    "Arrow-batched mapInPandas pass that slices it (multimodal/"
    "media.py video_frame_dhashes, mm03's exact slice arithmetic), "
    "BLANK frames (fhash 0 — flat rasters with no ordinal signal) "
    "are excluded like real systems drop black frames, candidates "
    "come from exact frame-hash buckets (bucket-local i<j emission, "
    "never all-pairs), and a pair is a near-dup when it shares >= "
    f"{VID_CONTAIN_MIN} of the smaller side's distinct hashes (n17's "
    "containment at the video level). The oracle re-derives every "
    "frame hash closed-form and brute-forces the overlap — the "
    "banding path provably misses nothing at test scale.",
)
def mm16_video_frame_neardup(spark, sf_dir):
    return _mm16_pairs(_mm16_hash_table(spark, sf_dir))


def _mm16_hash_table(spark, sf_dir):
    from ..multimodal.media import video_frame_dhashes

    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        (F.col("media_type") == "video") & (F.col("n_frames") > 0)
    )
    return (
        video_frame_dhashes(media)
        .filter(F.col("fhash") != 0)
        .select("media_id", "fhash")
        .distinct()
    )


def _mm16_pairs(hs, max_bucket: int | None = None):
    """mm16's containment near-dup pairs from a
    DataFrame[media_id, fhash] of distinct non-blank frame hashes,
    via `banding.bucket_pairs` on the frame hash.

    `max_bucket` caps the frame-hash buckets: a VIRAL frame — an
    intro card, a watermark frame, a platform logo shared by millions
    of videos — concentrates O(bucket^2) pair emission in ONE task.
    The cap drops hot hashes before the per-video size counts too:
    capped semantics are STOP-FRAME REMOVAL, the exact analogue of
    dropping stopwords before Jaccard (n17's documented recipe) and of
    production video dedup discarding black frames/intro cards. The
    capped result equals the uncapped query run on the corpus with hot
    hashes deleted: containment is computed over INFORMATIVE frames
    only, numerator and denominator consistently. (Consequence: this
    is not a pure subset of the uncapped output — a pair padded with
    viral frames can cross the threshold once those frames stop
    diluting its denominator, which is the IDF-correct judgment.)
    Audit a cap with `banding.oversized_buckets(hs, ("fhash",), cap)`
    — bucket_size = how many videos carry the viral frame.
    """
    if max_bucket is not None:
        hs = drop_oversized_buckets(hs, ("fhash",), max_bucket)
    # one evaluation of the hash pipeline serves buckets AND sizes
    hs = hs.localCheckpoint(eager=False)
    sizes = hs.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_hashes")
    )
    shared = (
        bucket_pairs(hs, ("fhash",), "media_id")
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    sa = sizes.select(
        F.col("media_id").alias("id_a"), F.col("n_hashes").alias("na")
    )
    sb = sizes.select(
        F.col("media_id").alias("id_b"), F.col("n_hashes").alias("nb")
    )
    contain = F.col("n_shared").cast("double") / F.least("na", "nb")
    return (
        shared.join(sa, "id_a")
        .join(sb, "id_b")
        .filter(contain >= VID_CONTAIN_MIN)
        .select(
            "id_a", "id_b", "n_shared", contain.alias("containment")
        )
    )


def mm16_video_frame_neardup_capped(spark, sf_dir, max_bucket: int):
    """mm16 with the viral-frame cap: returns (matches, audit) where
    `audit` lists every (fhash, bucket_size) the cap excluded — the
    number of videos carrying each viral frame. Semantics are
    stop-frame removal (see `_mm16_pairs`); identical to the
    registered mm16 wherever no frame hash exceeds `max_bucket`."""
    hs = _mm16_hash_table(spark, sf_dir)
    matches = _mm16_pairs(hs, max_bucket=max_bucket)
    audit = oversized_buckets(hs, ("fhash",), max_bucket)
    return matches, audit


# ---------------------------------------------------------------------------
# MM17: audio fingerprint near-dup — shared spectral peaks
# ---------------------------------------------------------------------------

MM17_TONE_MULTS = (1, 7, 13)   # three tones per clip, bins derived
#                                from media_id by coprime multipliers
MM17_SHARED_MIN = 2            # near-dup if >= 2 peak bins shared
_MM17_AMPS = (8000, 6000, 4000)

_MM17_BINS_SQL = " UNION ALL ".join(
    f"SELECT doc_id AS media_id, "
    f"CAST((doc_id * {m}) % 160 + 8 AS BIGINT) AS bin "
    "FROM documents WHERE doc_id % 3 = 1"
    for m in MM17_TONE_MULTS
)


@register(
    "mm17_audio_fingerprint_neardup",
    oracle=f"""
    WITH peaks AS (SELECT DISTINCT media_id, bin
                   FROM ({_MM17_BINS_SQL})),
    shared AS (
      SELECT a.media_id AS id_a, b.media_id AS id_b,
             COUNT(*) AS n_shared
      FROM peaks a JOIN peaks b
        ON a.bin = b.bin AND a.media_id < b.media_id
      GROUP BY 1, 2)
    SELECT id_a, id_b, n_shared
    FROM shared WHERE n_shared >= {MM17_SHARED_MIN}
    """,
    note="MM17 audio near-dup via spectral-peak fingerprints — the "
    "Shazam-family shape (Wang 2003: constellation of spectral "
    "peaks; match = enough shared peaks): each clip synthesizes "
    "three integer-cycle tones (bins media_id-derived via coprime "
    "multipliers), rides the real RIFF/WAV codec round-trip, and "
    "its rFFT peak bins are detected THRESHOLD-FREE as the top "
    "magnitudes inside one mapInPandas pass — integer-cycle tones "
    "concentrate all energy in their bins, so detection is exact "
    "and the oracle states every peak closed-form. Pairs sharing "
    f">= {MM17_SHARED_MIN} peak bins surface from bin-bucket "
    "joins (bucket-local i<j emission like mm15/mm16, never "
    "all-pairs). Completes the perceptual-dedup triad: image "
    "(mm15), video (mm16), audio (mm17).",
)
def mm17_audio_fingerprint_neardup(spark, sf_dir):
    return _mm17_pairs(_mm17_peak_table(spark, sf_dir))


def _mm17_peak_table(spark, sf_dir):
    from collections.abc import Iterator

    media = t(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 3 == 1
    ).select(F.col("doc_id").alias("media_id"))

    def batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        import numpy as np
        import pandas as pd

        from ..multimodal.media import decode_audio, encode_wav

        n = MM8_N
        t_idx = np.arange(n)
        for pdf in it:
            rows = []
            for r in pdf.itertuples(index=False):
                mid = int(r.media_id)
                bins = [
                    (mid * m) % 160 + 8 for m in MM17_TONE_MULTS
                ]
                wave = np.zeros(n, np.float64)
                for b, amp in zip(bins, _MM17_AMPS):
                    wave += amp * np.sin(2 * np.pi * b * t_idx / n)
                wave_i16 = np.round(wave).astype(np.int16)
                decoded = decode_audio(
                    encode_wav(wave_i16, MM8_RATE), "wav"
                )
                mag = np.abs(np.fft.rfft(decoded.astype(np.float64)))
                mag[0] = 0.0  # DC carries no tone
                n_peaks = len(set(bins))
                top = np.argsort(mag)[::-1][:n_peaks]
                for k in sorted(int(x) for x in top):
                    rows.append((mid, k))
            yield pd.DataFrame(rows, columns=["media_id", "bin"])

    return media.mapInPandas(
        batches, schema="media_id long, bin long"
    )


def mm17_audio_fingerprint_neardup_capped(
    spark, sf_dir, max_bucket: int
):
    """mm17 with the hot-bin cap: returns (matches, audit) where
    `audit` lists every (bin, bucket_size) the cap excluded — the
    number of clips peaking in each uninformative bin. Capped output
    is a strict subset of uncapped (see `_mm17_pairs`); identical to
    the registered mm17 wherever no bin exceeds `max_bucket`."""
    peaks = _mm17_peak_table(spark, sf_dir)
    matches = _mm17_pairs(peaks, max_bucket=max_bucket)
    audit = oversized_buckets(peaks, ("bin",), max_bucket)
    return matches, audit


def _mm17_pairs(peaks, max_bucket: int | None = None):
    """mm17's shared-peak near-dup pairs from a
    DataFrame[media_id, bin] of per-clip spectral peak bins, via
    `banding.bucket_pairs` on the bin.

    `max_bucket` caps the frequency-bin buckets: a HOT bin — mains
    hum, a codec artifact tone, a jingle every clip in a catalog
    carries — concentrates O(bucket^2) pair emission in ONE task
    (mm17's 100x density probe measured 329x wall on exactly this
    quadratic path). A bin that common carries no discriminative
    signal — the Shazam-family systems whose shape mm17 takes prune
    overfull posting lists the same way. Because the match rule is an
    absolute count (n_shared >= threshold over shared bins), capped
    output is a strict SUBSET of uncapped: dropping a bin only lowers
    n_shared — a pair is lost iff fewer than the threshold of its
    shared bins are informative. Audit a cap with
    `banding.oversized_buckets(peaks, ("bin",), cap)` — bucket_size =
    how many clips peak there.
    """
    return (
        bucket_pairs(peaks, ("bin",), "media_id", max_bucket)
        .groupBy(F.col("a").alias("id_a"), F.col("b").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= MM17_SHARED_MIN)
    )


# ---------------------------------------------------------------------------
# MM18: scene-change detection from per-frame fingerprints
# ---------------------------------------------------------------------------


@register(
    "mm18_scene_changes",
    oracle=_VID_DHASH_SQL
    + """
    , seq AS (
      SELECT media_id, fhash,
             lag(fhash) OVER (PARTITION BY media_id ORDER BY k)
               AS prev_hash
      FROM dh)
    SELECT media_id,
           COUNT(*) AS n_frames_hashed,
           COUNT(DISTINCT fhash) AS n_distinct,
           COUNT(*) FILTER (WHERE prev_hash IS NOT NULL
                              AND fhash <> prev_hash) AS n_scene_changes
    FROM seq GROUP BY media_id
    """,
    note="MM18 scene-change detection: a cut is a frame whose "
    "fingerprint differs from its predecessor — lag() over the "
    "(video, frame_idx) order of mm16's per-frame dHash table turns "
    "shot segmentation into one window + one grouped count (the "
    "temporal face of the dedup index: mm16 asks 'same frames "
    "ANYWHERE', mm18 asks 'WHERE does the content change'). Hashes "
    "come from the same single Arrow-batched mapInPandas decode pass "
    "(payloads never shuffle; 16 bytes per frame move); the window "
    "shuffles only the fingerprint table on media_id. Keyframe "
    "extraction for a training set = keep frame_idx 0 plus each "
    "change point — the standard sampling policy this table drives.",
)
def mm18_scene_changes(spark, sf_dir):
    from pyspark.sql import Window

    from ..multimodal.media import video_frame_dhashes

    media = as_media_table(t(spark, sf_dir, "documents")).filter(
        (F.col("media_type") == "video") & (F.col("n_frames") > 0)
    )
    dh = video_frame_dhashes(media)
    w = Window.partitionBy("media_id").orderBy("frame_idx")
    seq = dh.select(
        "media_id",
        "fhash",
        F.lag("fhash").over(w).alias("prev_hash"),
    )
    return seq.groupBy("media_id").agg(
        F.count(F.lit(1)).alias("n_frames_hashed"),
        F.countDistinct("fhash").alias("n_distinct"),
        F.count(
            F.when(
                F.col("prev_hash").isNotNull()
                & (F.col("fhash") != F.col("prev_hash")),
                1,
            )
        ).alias("n_scene_changes"),
    )
