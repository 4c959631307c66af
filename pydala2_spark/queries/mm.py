"""Multimodal binary-column queries: sniffing, decode, EXIF, blockhash, audio features.

Registered into the shared REGISTRY; ordering and the driver window
live in pydala2_spark/queries/__init__.py."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

from pydala2_spark.queries._base import (
    _t,
    query,
)
from pydala2_spark.sources.testdata import read_table



# =====================================================================
# Multimodal columns (binary payloads + mapInPandas decode stages)
# =====================================================================


def _keep_text(docs: DataFrame, payload) -> DataFrame:
    """``(doc_id, payload)``: ``payload``, except that one doc in ten
    (doc_id % 10 = 9) keeps its UTF-8 text. No decoder recognizes the
    text, so the oracles also pin the null + decode_error rows."""
    return docs.select(
        "doc_id",
        F.when(F.col("doc_id") % 10 == 9, F.encode("text", "UTF-8"))
        .otherwise(payload)
        .alias("payload"),
    )


def _gradient_image_udf():
    """pandas UDF doc_id → image: the gradient ``v(x, y) = (7x + 11y +
    doc_id) % 256`` on a ``(8 + doc_id % 5) x (8 + doc_id % 7)`` grid,
    all three channels equal, encoded per doc_id % 4 as 24-bit BMP /
    8-bit PNG / binary PPM / GIF."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import encode_bmp, encode_gif, encode_png

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            w, h = 8 + d % 5, 8 + d % 7
            v = (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 11 + d) % 256
            arr = np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8)
            if d % 4 == 0:
                out.append(encode_bmp(arr))
            elif d % 4 == 1:
                out.append(encode_png(arr))
            elif d % 4 == 2:
                out.append(f"P6\n{w} {h}\n255\n".encode("ascii") + arr.tobytes())
            else:
                out.append(encode_gif(arr))
        return pd.Series(out)

    return synth


def _pcm_wav_udf():
    """pandas UDF doc_id → 16-bit mono PCM WAV: ``64 + doc_id % 64``
    samples ``(i * 73 + doc_id * 97) % 65536 - 32768`` at
    ``8000 + (doc_id % 5) * 1000`` Hz."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import encode_wav_pcm16

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            n = 64 + d % 64
            s = ((np.arange(n, dtype=np.int64) * 73 + d * 97) % 65536 - 32768).astype(
                np.int16
            )
            out.append(encode_wav_pcm16(s, 8000 + (d % 5) * 1000))
        return pd.Series(out)

    return synth


@query(
    "mm_media_meta",
    """
    SELECT doc_id,
           octet_length(encode(text)) AS size_bytes,
           'unknown' AS format,
           md5(text) AS content_md5
    FROM documents
    """,
)
def mm_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    # typed media-metadata struct on a binary column — pure built-ins
    # (octet_length / magic sniff / md5), zero Python in the scan.
    from pydala2_spark.operators.multimodal import with_media_metadata

    docs = _t(spark, sf_dir, "documents").withColumn("blob", F.encode("text", "UTF-8"))
    return with_media_metadata(docs, "blob").select(
        "doc_id",
        F.col("media_meta.size_bytes").alias("size_bytes"),
        F.col("media_meta.format").alias("format"),
        F.col("media_meta.content_md5").alias("content_md5"),
    )



@query(
    "mm_image_decode",
    """
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 10 <> 9 THEN 8 + doc_id % 5 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 10 <> 9 THEN 8 + doc_id % 7 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 10 <> 9 THEN 3 END AS INTEGER) AS channels,
           CAST(CASE WHEN doc_id % 10 = 9 THEN 'unrecognized image container' END
                AS VARCHAR) AS decode_error
    FROM documents
    """,
)
def mm_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    # Arrow-batched mapInPandas header decode over the shared gradient
    # images (BMP / PNG / PPM / GIF); the text slice pins the null
    # dimensions + decode_error rows.
    from pydala2_spark.operators.multimodal import decode_images

    docs = _keep_text(_t(spark, sf_dir, "documents"), _gradient_image_udf()("doc_id"))
    return decode_images(docs, "payload", passthrough=["doc_id"])



@query(
    "mm_frame_sample",
    """
    WITH d AS (
      SELECT doc_id,
             doc_id % 10 = 9 AS is_text,
             CASE WHEN doc_id % 10 = 9 THEN text ELSE decode(from_hex(
               '00000018' || '66747970' || '69736f6d' || '00000000' || '69736f6d69736f32'
               || '00000074' || '6d6f6f76'
               || '0000006c' || '6d766864' || repeat('00', 12) || '00000064'
               || printf('0000%02x%02x', 1 + doc_id % 64, doc_id % 128)
               || repeat('00', 80))) END AS payload,
             ((1 + doc_id % 64) * 256 + doc_id % 128) * 10 AS dur
      FROM documents
    )
    SELECT doc_id,
           CAST(i AS INTEGER) AS frame_index,
           CAST(CASE WHEN NOT is_text THEN dur * i // 4 END AS BIGINT) AS ts_ms,
           md5(payload || CAST(i AS VARCHAR)) AS frame_md5,
           CAST(CASE WHEN is_text THEN 'unrecognized video container' END
                AS VARCHAR) AS decode_error
    FROM d, unnest(generate_series(0, 3)) AS u(i)
    """,
)
def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row in → n_frames rows out, exploded INSIDE the Python
    worker (a 1 GB video never materializes twice per task). Each
    document carries a minimal MP4: an ``ftyp`` box, then
    ``moov/mvhd`` (version 0) with timescale 100 and a duration of
    ``(1 + doc_id % 64) * 256 + doc_id % 128`` ticks, so ``ts_ms``
    comes from the real mvhd duration. Every byte stays below 0x80,
    so the oracle rebuilds the payload as text for ``frame_md5``."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import sample_frames

    def box(typ: bytes, body: bytes) -> bytes:
        return (8 + len(body)).to_bytes(4, "big") + typ + body

    ftyp = box(b"ftyp", b"isom" + bytes(4) + b"isomiso2")

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            ticks = bytes([0, 0, 1 + d % 64, d % 128])
            mvhd = box(b"mvhd", bytes(12) + (100).to_bytes(4, "big") + ticks + bytes(80))
            out.append(ftyp + box(b"moov", mvhd))
        return pd.Series(out)

    docs = _keep_text(_t(spark, sf_dir, "documents"), synth("doc_id"))
    return sample_frames(docs, "payload", passthrough=["doc_id"], n_frames=4)



@query(
    "mm_gif_frame_sample",
    """
    WITH f AS (
      SELECT doc_id,
             6 + doc_id % 5 AS w,
             6 + doc_id % 7 AS h,
             i AS frame_index,
             list_sum(list_transform(range(0, i),
               j -> 2 + (doc_id + j) % 5)) * 10 AS ts_ms,
             flatten(list_transform(range(0, 6 + doc_id % 7), y ->
               list_transform(range(0, 6 + doc_id % 5), x ->
                 ((x * 7 + y * 11 + doc_id + i * 17) % 8) * 32))) AS vals
      FROM documents, unnest(generate_series(0, 1 + doc_id % 3)) AS u(i)
    )
    SELECT doc_id,
           CAST(frame_index AS INTEGER) AS frame_index,
           CAST(coalesce(ts_ms, 0) AS BIGINT) AS ts_ms,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 * list_sum(vals) AS BIGINT) AS px_sum,
           CAST(list_min(vals) AS INTEGER) AS px_min,
           CAST(list_max(vals) AS INTEGER) AS px_max,
           CAST(((doc_id + frame_index * 17) % 8) * 32 AS INTEGER) AS px_topleft
    FROM f
    """,
)
def mm_gif_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-frame sampling: synthesize a
    doc_id-derived ANIMATED GIF per document (2–4 frames, per-frame
    GCE delays), decode and compose every frame with the
    dependency-free animation decoder
    (`operators/multimodal.decode_gif_frames` — LZW, disposal
    methods, patch placement, transparency all load-bearing), and
    report each frame's true timeline position plus pixel
    statistics. The oracle recomputes everything analytically from
    the gradient/delay formulas — so the decoder, the GCE-delay
    accumulation, AND the per-frame composition are all
    value-checked, the way `mm_image_real_decode` checks the still
    decoders.

    At 100 TB: synthesis stands in for stored payloads; decode +
    stats is one Arrow-batched pass with the frame explosion INSIDE
    the Python worker, and only fixed-width stats rows leave the
    stage."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import (
        encode_gif_animation,
        gif_frame_stats,
    )

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            w, h = 6 + d % 5, 6 + d % 7
            nf = 2 + d % 3
            frames = []
            for i in range(nf):
                v = (
                    (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 11 + d + i * 17)
                    % 8
                ) * 32
                frames.append(np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8))
            delays = [2 + (d + i) % 5 for i in range(nf)]
            out.append(encode_gif_animation(frames, delays_cs=delays))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "gif", synth("doc_id")
    )
    return gif_frame_stats(docs, "gif", ["doc_id"])



@query(
    "mm_image_real_decode",
    """
    WITH px AS (
      SELECT doc_id,
             8 + doc_id % 5 AS w,
             8 + doc_id % 7 AS h,
             flatten(list_transform(range(0, 8 + doc_id % 7), y ->
               list_transform(range(0, 8 + doc_id % 5), x ->
                 (x * 7 + y * 11 + doc_id) % 256))) AS vals
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(3 * list_sum(vals) AS BIGINT) AS px_sum,
           CAST(list_min(vals) AS INTEGER) AS px_min,
           CAST(list_max(vals) AS INTEGER) AS px_max,
           CAST(doc_id % 256 AS INTEGER) AS px_topleft,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM px
    """,
)
def mm_image_real_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end image decode:
    synthesize the SAME doc_id-derived gradient into a different
    container per document (doc_id mod 4: 24-bit BMP / 8-bit PNG /
    binary PPM / GIF) and decode the ACTUAL pixel bytes
    (`operators/multimodal.decode_image_pixels` — BMP row padding +
    bottom-up order + BGR→RGB, PNG zlib inflate + scanline unfilter,
    netpbm header tokenizer, GIF LZW + palette all load-bearing). The
    oracle computes the expected integer statistics analytically from
    the gradient formula alone — container-INVARIANT, so one oracle
    verifies all four decoders. ``px_topleft`` pins orientation: a
    decoder that forgets BMP's bottom-up storage reports v(0, H-1)
    instead.

    At 100 TB: synthesis stands in for the corpus's stored payloads —
    the decode/stats stage is one Arrow-batched pass, no shuffle, and
    only the (small) stats columns survive the stage."""
    from pydala2_spark.operators.multimodal import image_pixel_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _gradient_image_udf()("doc_id").alias("img")
    )
    return image_pixel_stats(docs, "img", ["doc_id"])



@query(
    "mm_image_extended_decode",
    """
    WITH px AS (
      SELECT doc_id,
             8 + doc_id % 5 AS w,
             8 + doc_id % 7 AS h,
             doc_id % 4 AS m,
             flatten(list_transform(range(0, 8 + doc_id % 7), y ->
               list_transform(range(0, 8 + doc_id % 5), x ->
                 (x * 7 + y * 11 + doc_id) % 256))) AS vals
      FROM documents
    ), t AS (
      SELECT doc_id, w, h, m,
             CASE WHEN m = 2
                  THEN list_transform(vals, v -> (v % 16) * 17)
                  ELSE vals END AS dec
      FROM px
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(CASE WHEN m = 1 THEN 3 ELSE 1 END AS INTEGER) AS channels,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(CASE WHEN m = 1 THEN 3 ELSE 1 END * list_sum(dec) AS BIGINT) AS px_sum,
           CAST(list_min(dec) AS INTEGER) AS px_min,
           CAST(list_max(dec) AS INTEGER) AS px_max,
           CAST(CASE WHEN m = 2 THEN (doc_id % 256 % 16) * 17
                     ELSE doc_id % 256 END AS INTEGER) AS px_topleft,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM t
    """,
)
def mm_image_extended_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The EXTENDED PNG decoder shapes, end-to-end real: the same
    doc_id gradient as ``mm_image_real_decode`` synthesized per
    document into (doc_id mod 4) 16-bit grayscale PNG (MSB reduction),
    Adam7-interlaced 8-bit RGB (seven-pass scatter), 4-bit grayscale
    (sub-byte unpacking + range scaling v*17), and Adam7 16-BIT
    grayscale (both extensions composed). The oracle recomputes every
    integer statistic analytically from the gradient + the documented
    reduction rules — so the MSB rule, the sub-8 scaling rule and the
    interlace reconstruction are each load-bearing for the hash.

    Same 100 TB shape as the other media queries: one Arrow-batched
    scan stage (`operators/multimodal.image_pixel_stats`), payloads
    never cross a shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import encode_png_ext, image_pixel_stats

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            w, h = 8 + d % 5, 8 + d % 7
            v = (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 11 + d) % 256
            m = d % 4
            if m == 0:  # 16-bit gray: stored v<<8, decoded MSB == v
                out.append(
                    encode_png_ext((v.astype(np.uint16) << 8)[:, :, None], 16, 0, 0)
                )
            elif m == 1:  # Adam7 8-bit RGB
                out.append(
                    encode_png_ext(
                        np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8), 8, 2, 1
                    )
                )
            elif m == 2:  # 4-bit gray: index u decodes to u*17
                out.append(
                    encode_png_ext((v % 16).astype(np.uint8)[:, :, None], 4, 0, 0)
                )
            else:  # Adam7 + 16-bit composed
                out.append(
                    encode_png_ext((v.astype(np.uint16) << 8)[:, :, None], 16, 0, 1)
                )
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "img", synth("doc_id")
    )
    return image_pixel_stats(docs, "img", ["doc_id"])



@query(
    "mm_image_tiff_decode",
    """
    WITH px AS (
      SELECT doc_id,
             8 + doc_id % 5 AS w,
             8 + doc_id % 7 AS h,
             doc_id % 4 AS m,
             flatten(list_transform(range(0, 8 + doc_id % 7), y ->
               list_transform(range(0, 8 + doc_id % 5), x ->
                 (x * 7 + y * 11 + doc_id) % 256))) AS vals
      FROM documents
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(CASE WHEN m % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) AS channels,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(CASE WHEN m % 2 = 0 THEN 3 ELSE 1 END * list_sum(vals)
                AS BIGINT) AS px_sum,
           CAST(list_min(vals) AS INTEGER) AS px_min,
           CAST(list_max(vals) AS INTEGER) AS px_max,
           CAST(doc_id % 256 AS INTEGER) AS px_topleft,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM px
    """,
)
def mm_image_tiff_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline TIFF end-to-end real: the shared gradient synthesized
    per document into (doc_id mod 4) little-endian uncompressed RGB,
    big-endian uncompressed grayscale, PackBits RGB, and PackBits
    big-endian grayscale — both byte orders and both Compression=1/
    32773 paths of `operators/tiff.py` are load-bearing for the hash
    (the oracle recomputes the stats analytically from the gradient,
    so any strip/run decode error flips a value).

    Same 100 TB shape as the other media queries: one Arrow-batched
    scan stage, payloads never cross a shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import image_pixel_stats
    from pydala2_spark.operators.tiff import encode_tiff

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            w, h = 8 + d % 5, 8 + d % 7
            v = (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 11 + d) % 256
            m = d % 4
            rgb = np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8)
            gray = v.astype(np.uint8)[:, :, None]
            if m == 0:
                out.append(encode_tiff(rgb, byte_order="little"))
            elif m == 1:
                out.append(encode_tiff(gray, byte_order="big"))
            elif m == 2:
                out.append(encode_tiff(rgb, packbits=True, byte_order="little"))
            else:
                out.append(encode_tiff(gray, packbits=True, byte_order="big"))
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "img", synth("doc_id")
    )
    return image_pixel_stats(docs, "img", ["doc_id"])



@query(
    "mm_image_webp_decode",
    """
    WITH px AS (
      SELECT doc_id,
             6 + doc_id % 5 AS w,
             6 + doc_id % 4 AS h,
             doc_id % 4 AS m,
             flatten(list_transform(range(0, 6 + doc_id % 4), y ->
               list_transform(range(0, 6 + doc_id % 5), x ->
                 (x * 7 + y * 11 + doc_id) % 256))) AS vals
      FROM documents
    ), t AS (
      SELECT doc_id, w, h, m,
             CASE WHEN m = 2 THEN list_transform(vals, v -> (v % 8) * 31)
                  ELSE vals END AS dec
      FROM px
    )
    SELECT doc_id,
           CAST(w AS INTEGER) AS width,
           CAST(h AS INTEGER) AS height,
           CAST(3 AS INTEGER) AS channels,
           CAST(w * h AS BIGINT) AS n_pixels,
           CAST(3 * list_sum(dec) AS BIGINT) AS px_sum,
           CAST(list_min(dec) AS INTEGER) AS px_min,
           CAST(list_max(dec) AS INTEGER) AS px_max,
           CAST(CASE WHEN m = 2 THEN (doc_id % 256 % 8) * 31
                     ELSE doc_id % 256 END AS INTEGER) AS px_topleft,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM t
    """,
)
def mm_image_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless (VP8L) decode end-to-end: the doc_id pixel
    gradient synthesized per document into one of four VP8L shapes —
    plain literals, subtract-green + distance-mapped LZ77 runs,
    color-indexing with sub-byte bundling (8-color palette, so the
    dec values quantize to (v mod 8)*31), and a spatial predictor
    (mode = doc_id mod 14) with a color cache — then decoded back
    through `operators/vp8l.decode_webp_pixels` inside the same
    Arrow-batched scan stage as the other media queries. Lossless
    container ⇒ ONE correct pixel grid, so the oracle recomputes every
    statistic analytically from the gradient; all four entropy/
    transform paths are load-bearing for the hash.

    100 TB shape: payloads synthesize and decode inside one
    mapInPandas scan stage — binary never crosses a shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import image_pixel_stats
    from pydala2_spark.operators.vp8l import encode_webp_lossless

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            w, h = 6 + d % 5, 6 + d % 4
            v = (np.arange(w)[None, :] * 7 + np.arange(h)[:, None] * 11 + d) % 256
            m = d % 4
            if m == 2:
                v = (v % 8) * 31  # 8-color palette -> 2-bit bundling
            img = np.repeat(v[:, :, None], 3, axis=2).astype(np.uint8)
            if m == 0:
                out.append(encode_webp_lossless(img))
            elif m == 1:
                out.append(
                    encode_webp_lossless(img, use_subtract_green=True, use_lz77=True)
                )
            elif m == 2:
                out.append(encode_webp_lossless(img, use_palette=True))
            else:
                out.append(
                    encode_webp_lossless(img, predictor_mode=d % 14, cache_bits=4)
                )
        return pd.Series(out)

    docs = _t(spark, sf_dir, "documents").select("doc_id").withColumn(
        "img", synth("doc_id")
    )
    return image_pixel_stats(docs, "img", ["doc_id"])



@query(
    "mm_audio_real_features",
    """
    WITH s AS (
      SELECT doc_id,
             8000 + (doc_id % 5) * 1000 AS rate,
             list_transform(range(0, 64 + doc_id % 64), i ->
               (i * 73 + doc_id * 97) % 65536 - 32768) AS smp
      FROM documents
    )
    SELECT doc_id,
           CAST(rate AS INTEGER) AS sample_rate,
           CAST(1 AS INTEGER) AS n_channels,
           CAST(len(smp) AS BIGINT) AS n_samples,
           CAST(list_sum(list_transform(smp, v -> abs(v))) AS BIGINT) AS abs_sum,
           CAST(list_min(smp) AS INTEGER) AS s_min,
           CAST(list_max(smp) AS INTEGER) AS s_max,
           CAST(len(list_filter(range(1, len(smp)), j ->
             smp[j] * smp[j + 1] < 0)) AS BIGINT) AS zero_crossings,
           CAST(NULL AS VARCHAR) AS decode_error
    FROM s
    """,
)
def mm_audio_real_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL end-to-end audio decode: synthesize a 16-bit PCM WAV per
    document (deterministic integer waveform from doc_id), decode its
    ACTUAL samples (`operators/multimodal.decode_wav_samples` — RIFF
    chunk walk + little-endian int16 frames), and emit exact integer
    sample statistics (abs-amplitude sum, min/max, strict
    zero-crossings) the oracle recomputes from the waveform formula.
    Integer aggregates keep the comparison bit-exact — no float
    summation-order hazard.

    Same 100 TB shape as the image path: one Arrow-batched scan stage,
    payloads never cross a shuffle."""
    from pydala2_spark.operators.multimodal import audio_pcm_stats

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", _pcm_wav_udf()("doc_id").alias("wav")
    )
    return audio_pcm_stats(docs, "wav", ["doc_id"])



@query(
    "mm_audio_features",
    """
    SELECT doc_id,
           CAST(CASE WHEN doc_id % 10 <> 9 THEN 8000 + (doc_id % 5) * 1000 END
                AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 10 <> 9
                     THEN (64 + doc_id % 64) * 1000 // (8000 + (doc_id % 5) * 1000) END
                AS BIGINT) AS duration_ms,
           CAST(CASE WHEN doc_id % 10 <> 9 THEN 1 END AS INTEGER) AS n_channels,
           CAST(CASE WHEN doc_id % 10 <> 9 THEN 13 END AS INTEGER) AS n_mfcc,
           doc_id % 10 <> 9 AS has_mfcc,
           CAST(CASE WHEN doc_id % 10 = 9 THEN 'unrecognized audio container' END
                AS VARCHAR) AS decode_error
    FROM documents
    """,
)
def mm_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    # audio decode + MFCC stage over mapInPandas on the shared PCM WAVs
    # (header fields exact; the MFCC values themselves are pinned by
    # the unit tests, so the oracle checks their presence and length).
    from pydala2_spark.operators.multimodal import extract_audio_features

    docs = _keep_text(_t(spark, sf_dir, "documents"), _pcm_wav_udf()("doc_id"))
    feats = extract_audio_features(docs, "payload", passthrough=["doc_id"], n_mfcc=13)
    has_mfcc = F.col("mfcc").isNotNull()
    return feats.select(
        "doc_id",
        "sample_rate",
        "duration_ms",
        "n_channels",
        F.when(has_mfcc, F.size("mfcc")).alias("n_mfcc"),
        has_mfcc.alias("has_mfcc"),
        "decode_error",
    )



@query(
    "mm_image_resize",
    """
    WITH d AS (
      SELECT doc_id,
             CASE WHEN doc_id % 10 <> 9 THEN 8 + doc_id % 5 END AS width,
             CASE WHEN doc_id % 10 <> 9 THEN 8 + doc_id % 7 END AS height
      FROM documents
    )
    SELECT doc_id,
           CAST(width AS INTEGER) AS width,
           CAST(height AS INTEGER) AS height,
           CAST(ceil(width * least(1.0, 10.0 / greatest(width, height))) AS INTEGER)
             AS resized_width,
           CAST(ceil(height * least(1.0, 10.0 / greatest(width, height))) AS INTEGER)
             AS resized_height,
           CAST(CASE WHEN width IS NULL THEN 'unrecognized image container' END
                AS VARCHAR) AS decode_error
    FROM d
    """,
)
def mm_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    # resize stage: header decode → clamp the longest side to 10 (the
    # gradient images are 8-12 x 8-14, so both branches run) — the
    # aspect-preserving scale math runs JVM-side on the decoded dims.
    from pydala2_spark.operators.multimodal import resize_images

    docs = _keep_text(_t(spark, sf_dir, "documents"), _gradient_image_udf()("doc_id"))
    return resize_images(docs, "payload", passthrough=["doc_id"], max_side=10)



@query(
    "mm_audio_metadata",
    """
    SELECT doc_id,
           CASE WHEN doc_id % 2 = 0 THEN 'flac' ELSE 'mp3' END AS fmt,
           CAST(CASE WHEN doc_id % 2 = 0
                     THEN 32000 + (doc_id % 4) * 4000
                     ELSE [44100, 48000, 32000][CAST(doc_id % 3 AS INT) + 1]
                END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 + (doc_id // 2) % 2
                     WHEN doc_id % 4 = 1 THEN 1 ELSE 2
                END AS INTEGER) AS n_channels,
           CAST(CASE WHEN doc_id % 2 = 0
                     THEN (1000 + doc_id % 500) * 1000
                          // (32000 + (doc_id % 4) * 4000)
                     ELSE (4 + doc_id % 2000) * 8 * 1000
                          // ([0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160,
                              192, 224, 256, 320]
                              [CAST(1 + doc_id % 14 AS INT) + 1] * 1000)
                END AS BIGINT) AS duration_ms
    FROM documents
    """,
)
def mm_audio_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FLAC + MP3 metadata end to end in the oracle gate: synthesize a
    REAL container per document (even ids: fLaC + STREAMINFO with the
    20|3|5|36-bit packed tail; odd ids: an MPEG1 Layer III frame
    header + CBR payload), sniff the format with the JVM-side magic
    expression, and parse rate/channels/duration through
    ``parse_audio_header``'s dependency-free ladder. The oracle
    recomputes every field from the synthesis formulas.

    100 TB shape: one Arrow-batched synth/parse stage + a scan-stage
    sniff expression; payloads never cross a shuffle."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import parse_audio_header, sniff_format

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            if d % 2 == 0:
                rate = 32000 + (d % 4) * 4000
                ch = 1 + (d // 2) % 2
                total = 1000 + d % 500
                packed = (rate << 44) | ((ch - 1) << 41) | (15 << 36) | total
                si = bytes(10) + packed.to_bytes(8, "big") + bytes(16)
                out.append(b"fLaC" + bytes([0]) + (34).to_bytes(3, "big") + si)
            else:
                b2 = ((1 + d % 14) << 4) | ((d % 3) << 2)
                b3 = (3 << 6) if d % 4 == 1 else 0
                out.append(bytes([0xFF, 0xFB, b2, b3]) + bytes(d % 2000))
        return pd.Series(out)

    @pandas_udf("sample_rate int, n_channels int, duration_ms bigint")
    def parse(payload):
        rows = []
        for p in payload:
            meta = parse_audio_header(bytes(p))
            rows.append(meta if meta else (None, None, None))
        return pd.DataFrame(
            rows, columns=["sample_rate", "n_channels", "duration_ms"]
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    with_payload = docs.select("doc_id", synth("doc_id").alias("payload"))
    return with_payload.select(
        "doc_id",
        sniff_format("payload").alias("fmt"),
        parse("payload").alias("m"),
    ).select("doc_id", "fmt", "m.sample_rate", "m.n_channels", "m.duration_ms")



@query(
    "mm_blockhash",
    """
    WITH b AS (
      SELECT doc_id, text, len(text) AS L FROM documents
    ), bits AS (
      SELECT doc_id,
             CASE WHEN ('0x' || substr(md5(substr(text,
                          1 + CAST((j * L) // 48 AS INT),
                          greatest(CAST(L // 48 AS INT), 1))), 1, 1))::BIGINT % 2 = 1
                  THEN (CAST(1 AS BIGINT) << j) ELSE 0 END AS v
      FROM b, unnest(generate_series(0, 47)) AS g(j)
    )
    SELECT doc_id, CAST(sum(v) AS BIGINT) AS bh
    FROM bits GROUP BY doc_id
    """,
)
def mm_blockhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    # 48-bit byte-slice blockhash per media payload — the codec-free
    # perceptual-hash stand-in (bit j = parity of md5(slice j)), pure
    # JVM expressions in the scan stage. Feeds media_near_duplicates'
    # pigeonhole Hamming join (shared with text SimHash); here the
    # hash VALUES themselves are oracle-verified bit for bit.
    from pydala2_spark.operators.multimodal import blockhash48

    return (
        _t(spark, sf_dir, "documents")
        .select("doc_id", blockhash48("text").alias("bh"))
    )



@query(
    "mm_exif_orientation",
    """
    SELECT doc_id,
           CAST(1 + doc_id % 8 AS INT) AS orientation,
           CAST(1 + doc_id % 3 AS INT) AS resolution_unit,
           CAST(100 * (1 + doc_id % 16) AS INT) AS iso,
           CAST(64 + doc_id % 32 AS INT) AS width,
           CAST(48 + doc_id % 24 AS INT) AS height,
           CAST(CASE WHEN 1 + doc_id % 8 >= 5 THEN 48 + doc_id % 24
                     ELSE 64 + doc_id % 32 END AS INT) AS disp_width,
           CAST(CASE WHEN 1 + doc_id % 8 >= 5 THEN 64 + doc_id % 32
                     ELSE 48 + doc_id % 24 END AS INT) AS disp_height
    FROM documents
    """,
)
def mm_exif_orientation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXIF metadata end to end in the oracle gate: synthesize a REAL
    JPEG per document (SOI + APP1 "Exif" carrying a TIFF IFD — byte
    order alternating II/MM by parity, Orientation/ResolutionUnit in
    IFD0, ISO behind the 0x8769 EXIF sub-IFD pointer — then an SOF0
    with the true dimensions), parse it back with the
    dependency-free ``parse_exif`` + ``parse_image_header`` walk, and
    emit the DISPLAY dimensions (orientations 5-8 swap width/height —
    the correction every thumbnail stage must apply before geometry).
    The oracle recomputes every field from the synthesis formulas.

    100 TB shape: one Arrow-batched synth/parse stage; payloads never
    cross a shuffle. See operators/multimodal.parse_exif."""
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from pydala2_spark.operators.multimodal import (
        parse_exif,
        parse_image_header,
    )

    @pandas_udf("binary")
    def synth(doc_id):
        out = []
        for d in doc_id:
            d = int(d)
            bo = "little" if d % 2 == 0 else "big"
            head = b"II*\x00" if bo == "little" else b"MM\x00*"

            def ent(tag, typ, count, val, four=False):
                v = (
                    val.to_bytes(4, bo)
                    if four
                    else val.to_bytes(2, bo) + b"\x00\x00"
                )
                return (
                    tag.to_bytes(2, bo)
                    + typ.to_bytes(2, bo)
                    + count.to_bytes(4, bo)
                    + v
                )

            # IFD0 at offset 8: count(2) + 3 entries(36) + next(4)
            # = 42 bytes; EXIF sub-IFD at 8 + 42 = 50
            ifd0 = (
                (3).to_bytes(2, bo)
                + ent(0x0112, 3, 1, 1 + d % 8)
                + ent(0x0128, 3, 1, 1 + d % 3)
                + ent(0x8769, 4, 1, 50, four=True)
                + (0).to_bytes(4, bo)
            )
            sub = (
                (1).to_bytes(2, bo)
                + ent(0x8827, 3, 1, 100 * (1 + d % 16))
                + (0).to_bytes(4, bo)
            )
            tiff = head + (8).to_bytes(4, bo) + ifd0 + sub
            app1_body = b"Exif\x00\x00" + tiff
            app1 = b"\xff\xe1" + (len(app1_body) + 2).to_bytes(2, "big") + app1_body
            w, h = 64 + d % 32, 48 + d % 24
            sof = (
                b"\xff\xc0"
                + (11).to_bytes(2, "big")
                + bytes([8])
                + h.to_bytes(2, "big")
                + w.to_bytes(2, "big")
                + bytes([3, 1, 0x11, 0])
            )
            out.append(b"\xff\xd8" + app1 + sof + b"\xff\xd9")
        return pd.Series(out)

    @pandas_udf(
        "orientation int, resolution_unit int, iso int, width int, height int"
    )
    def parse(payload):
        rows = []
        for p in payload:
            b = bytes(p)
            ex = parse_exif(b)
            dims = parse_image_header(b)
            rows.append(
                (
                    ex[0] if ex else None,
                    ex[1] if ex else None,
                    ex[2] if ex else None,
                    dims[0] if dims else None,
                    dims[1] if dims else None,
                )
            )
        return pd.DataFrame(
            rows,
            columns=[
                "orientation",
                "resolution_unit",
                "iso",
                "width",
                "height",
            ],
        )

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.select("doc_id", parse(synth("doc_id")).alias("m")).select(
        "doc_id", "m.*"
    )
    swap = F.col("orientation") >= 5
    return m.select(
        "doc_id",
        "orientation",
        "resolution_unit",
        "iso",
        "width",
        "height",
        F.when(swap, F.col("height")).otherwise(F.col("width")).alias(
            "disp_width"
        ),
        F.when(swap, F.col("width")).otherwise(F.col("height")).alias(
            "disp_height"
        ),
    )
