"""Multimodal column plumbing: opaque binary media + typed metadata.

The pattern for image/audio/video at 100 TB: media travels as a ``binary``
column next to a typed metadata struct; per-record decode/feature work runs
in Arrow-batched ``mapInPandas`` so bytes never round-trip through Python
row objects.

Decode is REAL for 24-bit BMP, binary PPM, PNG (zlib inflate +
un-filter + chunk-CRC verify — zlib is stdlib), and baseline sequential
JPEG (pure Huffman + IDCT, functions/jpeg.py), all dispatched through
functions/raster.py, so ``extract_features`` / ``resize_media`` /
``decode_image_stats`` execute end-to-end in this environment.
Progressive/arithmetic JPEG and video codecs need libraries NOT in this
container and stay gated: those buffers raise NotImplementedError
unless ``fake=True`` routes them through the deterministic byte-level
stand-in paths.
"""

from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from franzoxide_spark.tables import ensure_parallel

MEDIA_SCHEMA = (
    "doc_id bigint, media binary, "
    "meta struct<width:int, height:int, format:string>"
)


def media_frame_from_documents(docs: DataFrame) -> DataFrame:
    """Deterministic fake media: the document text's UTF-8 bytes stand in
    for an encoded image, with synthesized dimensions."""
    return docs.select(
        "doc_id",
        F.encode("text", "UTF-8").alias("media"),
        F.struct(
            (F.col("n_chars") % 640).cast("int").alias("width"),
            (F.col("n_chars") % 480).cast("int").alias("height"),
            F.lit("fake/v1").alias("format"),
        ).alias("meta"),
    )


def synthesize_bmp_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL media: each document's text bytes become the
    pixel raster of a small genuine 24-bit BMP (dimensions derived from
    doc_id, bytes tiled to fill). Unlike media_frame_from_documents (whose
    payload is just raw text bytes), every buffer this emits round-trips
    through the actual encoder — so decode paths run end-to-end with no
    fake flag. Arrow-batched mapInPandas; map-side only."""
    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.raster import encode_bmp

        for pdf in batches:
            media, metas = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(doc_id) % 9
                h = 4 + int(doc_id) % 7
                src = np.frombuffer(
                    (text or "").encode("utf-8") or b"\x00", dtype=np.uint8
                )
                idx = np.arange(w * h * 3) % len(src)
                media.append(encode_bmp(src[idx].reshape(h, w, 3)))
                metas.append({"width": w, "height": h, "format": "image/bmp"})
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": media, "meta": metas}
            )

    return ensure_parallel(docs.select("doc_id", "text")).mapInPandas(
        run, schema=out_schema
    )


def synthesize_raster_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL media across all four in-env raster codecs:
    doc_id % 4 picks BMP / PPM / PNG / baseline JPEG (functions/
    raster.py + functions/jpeg.py), pixels are the document's text bytes
    tiled — the mixed-format corpus shape a real curation pipeline sees,
    with every buffer produced by a genuine encoder. PNG rows also
    rotate through the five scanline filters (doc_id % 5) so the decode
    path exercises every un-filter branch at query scale, not just in
    unit tests. Arrow mapInPandas, map-side."""
    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.jpeg import encode_jpeg
        from franzoxide_spark.functions.raster import (
            encode_bmp,
            encode_png,
            encode_ppm,
        )

        for pdf in batches:
            media, metas = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w = 4 + int(doc_id) % 9
                h = 4 + int(doc_id) % 7
                src = np.frombuffer(
                    (text or "").encode("utf-8") or b"\x00", dtype=np.uint8
                )
                idx = np.arange(w * h * 3) % len(src)
                img = src[idx].reshape(h, w, 3)
                pick = int(doc_id) % 4
                if pick == 0:
                    media.append(encode_bmp(img))
                    fmt = "image/bmp"
                elif pick == 1:
                    media.append(encode_ppm(img))
                    fmt = "image/ppm"
                elif pick == 2:
                    media.append(
                        encode_png(img, filter_type=int(doc_id) % 5)
                    )
                    fmt = "image/png"
                else:
                    media.append(encode_jpeg(img, quality=90))
                    fmt = "image/jpeg"
                metas.append({"width": w, "height": h, "format": fmt})
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": media, "meta": metas}
            )

    # the single-row-group fixture parquet scans as ONE partition, which
    # would run every Python-side encode AND the downstream decode chain
    # on one core (mapInPandas preserves partitioning) — fan out first
    return ensure_parallel(docs.select("doc_id", "text")).mapInPandas(
        run, schema=out_schema
    )


def decode_image_stats(media_df: DataFrame) -> DataFrame:
    """Decode every supported raster buffer and emit typed pixel-domain
    stats; unsupported/malformed buffers are flagged, not dropped —
    the row shape a curation pipeline filters on.

    Output: ``doc_id, ok boolean, format string, width int, height int,
    channels int, mean_r double, mean_g double, mean_b double,
    brightness double`` (brightness = mean BT.601 luma, 0-255 scale;
    means rounded to 4 dp). Arrow-batched mapInPandas, map-side only —
    at 100 TB this is a pure scan stage, no shuffle."""
    out_schema = (
        "doc_id bigint, ok boolean, format string, width int, height int,"
        " channels int, mean_r double, mean_g double, mean_b double,"
        " brightness double"
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.raster import decode_raster, sniff_raster

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(blob)
                kind = sniff_raster(raw)
                try:
                    img = decode_raster(raw).astype(np.float64)
                except ValueError:
                    rows.append((doc_id, False, kind, None, None, None,
                                 None, None, None, None))
                    continue
                mr, mg, mb = (float(img[:, :, c].mean()) for c in range(3))
                rows.append((
                    doc_id, True, f"image/{kind}",
                    img.shape[1], img.shape[0], 3,
                    round(mr, 4), round(mg, 4), round(mb, 4),
                    round(0.299 * mr + 0.587 * mg + 0.114 * mb, 4),
                ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "ok", "format", "width", "height",
                         "channels", "mean_r", "mean_g", "mean_b",
                         "brightness"],
            )

    return media_df.mapInPandas(run, schema=out_schema)


def byte_stats(media_df: DataFrame) -> DataFrame:
    """Pure-expression byte-level features (no decode needed)."""
    return media_df.select(
        "doc_id",
        F.length("media").alias("byte_len"),
        F.substring(F.sha2("media", 256), 1, 16).alias("sha256_pfx"),
        F.col("meta.width").alias("width"),
        F.col("meta.height").alias("height"),
        F.col("meta.format").alias("format"),
    )


def extract_features(
    media_df: DataFrame, bins: int = 8, fake: bool = False
) -> DataFrame:
    """Decode + feature-extract via mapInPandas.

    BMP/PPM buffers (sniffed by magic bytes) take the REAL branch: decode
    via functions/raster.py and emit a normalized luminance histogram over
    ``bins`` buckets — an actual pixel-domain feature. Other buffers need
    codec libraries absent from this container: they raise
    NotImplementedError unless ``fake=True``, which computes the
    deterministic byte-histogram stand-in instead (same feature shape, so
    mixed corpora keep one schema).
    """
    out_schema = "doc_id bigint, feat array<double>"

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.raster import decode_raster, sniff_raster

        for pdf in batches:
            feats = []
            for blob in pdf["media"]:
                raw = bytes(blob)
                if sniff_raster(raw):
                    img = decode_raster(raw).astype(np.float64)
                    # ITU-R BT.601 luma, binned over [0, 256)
                    luma = (
                        0.299 * img[:, :, 0]
                        + 0.587 * img[:, :, 1]
                        + 0.114 * img[:, :, 2]
                    )
                    hist = np.bincount(
                        np.minimum(
                            (luma * bins / 256.0).astype(np.int64), bins - 1
                        ).ravel(),
                        minlength=bins,
                    )
                    feats.append((hist / max(luma.size, 1)).tolist())
                    continue
                if not fake:
                    raise NotImplementedError(
                        "media decode for this codec requires image/audio"
                        " libraries not present in this environment"
                        " (BMP/PPM/PNG/baseline-JPEG decode IS supported);"
                        " pass fake=True for the deterministic"
                        " byte-histogram path"
                    )
                arr = np.frombuffer(raw, dtype=np.uint8)
                hist = np.bincount(arr % bins, minlength=bins)
                total = max(len(arr), 1)
                feats.append((hist / total).tolist())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "feat": feats})

    return media_df.mapInPandas(run, schema=out_schema)


def resize_media(
    media_df: DataFrame,
    width: int,
    height: int,
    fake: bool = False,
) -> DataFrame:
    """Resize plumbing via mapInPandas: media in, media out, metadata
    updated to the target dimensions.

    BMP/PPM buffers take the REAL branch: decode, nearest-neighbor
    resample to (width, height), re-encode as binary PPM, meta format
    ``image/ppm``. Other buffers raise NotImplementedError unless
    ``fake=True``, which stride-samples the byte buffer to exactly
    ``width*height`` bytes — a deterministic stand-in with the same
    contract. Map-side only; partition-parallel; bytes move
    Arrow-batched, never through Python row objects.
    """
    out_schema = MEDIA_SCHEMA

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.raster import (
            decode_raster,
            encode_ppm,
            sniff_raster,
        )

        target = width * height
        for pdf in batches:
            out, metas = [], []
            for blob in pdf["media"]:
                raw = bytes(blob)
                if sniff_raster(raw):
                    img = decode_raster(raw)
                    h, w = img.shape[:2]
                    ys = (np.arange(height) * h) // height
                    xs = (np.arange(width) * w) // width
                    out.append(encode_ppm(img[ys][:, xs]))
                    metas.append(
                        {"width": width, "height": height, "format": "image/ppm"}
                    )
                    continue
                if not fake:
                    raise NotImplementedError(
                        "media resize for this codec requires image"
                        " libraries not present in this environment"
                        " (BMP/PPM/PNG/baseline-JPEG resize IS supported);"
                        " pass fake=True for the deterministic"
                        " stride-sample path"
                    )
                arr = np.frombuffer(raw, dtype=np.uint8)
                if len(arr) == 0:
                    arr = np.zeros(1, dtype=np.uint8)
                idx = (np.arange(target) * len(arr)) // target
                out.append(arr[idx].tobytes())
                metas.append(
                    {"width": width, "height": height, "format": "fake/resized"}
                )
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "media": out, "meta": metas}
            )

    return media_df.mapInPandas(run, schema=out_schema)


def sample_frames(
    media_df: DataFrame,
    frame_bytes: int = 256,
    every_n: int = 4,
    max_frames: int = 8,
    fake: bool = False,
) -> DataFrame:
    """Frame-sampling plumbing via mapInPandas: one input row (a 'video')
    fans out to ≤ ``max_frames`` frame rows — the 1→N batch shape a real
    frame sampler has.

    ``fake=True`` treats the byte stream as fixed-size ``frame_bytes``
    frames and keeps every ``every_n``-th one; ``fake=False`` raises from
    the executors (a real sampler needs ffmpeg). Output rows carry
    (doc_id, frame_idx, frame) with frame_idx the ORIGINAL stream index,
    so downstream work can reconstruct timing. Fan-out happens inside
    the Arrow batch (no explode shuffle); partition-parallel.
    """
    out_schema = "doc_id bigint, frame_idx int, frame binary"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        for pdf in batches:
            if not fake:
                raise NotImplementedError(
                    "frame sampling requires video libraries not present in"
                    " this environment; pass fake=True for the fixed-size"
                    " frame path"
                )
            ids, idxs, frames = [], [], []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(blob)
                n_frames = max((len(raw) + frame_bytes - 1) // frame_bytes, 0)
                kept = 0
                for i in range(0, n_frames, every_n):
                    if kept >= max_frames:
                        break
                    ids.append(doc_id)
                    idxs.append(i)
                    frames.append(raw[i * frame_bytes : (i + 1) * frame_bytes])
                    kept += 1
            yield pd.DataFrame(
                {"doc_id": ids, "frame_idx": idxs, "frame": frames}
            )

    return media_df.mapInPandas(run, schema=out_schema)


def synthesize_wav_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL audio: each document's text bytes become the
    sample stream of a genuine 16-bit PCM WAV (mono for even doc_ids,
    stereo for odd; sample rate cycles through common rates) — the audio
    twin of synthesize_bmp_media. Every buffer round-trips through the
    actual RIFF encoder, so the decode path runs end-to-end with no fake
    flag. Arrow-batched mapInPandas; map-side only."""
    out_schema = "doc_id bigint, media binary"

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.audio import encode_wav

        rates = (8000, 16000, 44100)
        for pdf in batches:
            media = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                src = np.frombuffer(
                    (text or "").encode("utf-8") or b"\x00", dtype=np.uint8
                )
                samples = ((src.astype(np.int32) - 128) * 256).astype("<i2")
                channels = 1 if int(doc_id) % 2 == 0 else 2
                n = len(samples) - len(samples) % channels
                if n == 0:
                    samples = np.zeros(channels, dtype="<i2")
                    n = channels
                media.append(
                    encode_wav(
                        samples[:n].reshape(-1, channels),
                        rates[int(doc_id) % 3],
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    return docs.select("doc_id", "text").mapInPandas(run, schema=out_schema)


def decode_audio_stats(media_df: DataFrame) -> DataFrame:
    """Decode every supported audio buffer and emit typed signal stats;
    unsupported/malformed buffers are flagged, not dropped.

    Output: ``doc_id, ok, format, sample_rate, channels, n_samples,
    duration_s, rms, peak, zcr`` (rms/peak on the [-1, 1] float scale,
    zcr = mean zero-crossing rate across channels; 6dp). Arrow-batched
    mapInPandas, map-side only — a pure scan stage at any scale, same as
    decode_image_stats."""
    out_schema = (
        "doc_id bigint, ok boolean, format string, sample_rate int,"
        " channels int, n_samples long, duration_s double, rms double,"
        " peak double, zcr double"
    )

    def run(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        from franzoxide_spark.functions.audio import decode_wav, sniff_audio

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(blob)
                kind = sniff_audio(raw)
                try:
                    rate, arr = decode_wav(raw)
                except ValueError:
                    rows.append((doc_id, False, kind, None, None, None,
                                 None, None, None, None))
                    continue
                x = arr.astype(np.float64) / 32768.0
                n = arr.shape[0]
                sb = np.signbit(x)
                zc = float(np.mean(sb[1:] != sb[:-1])) if n > 1 else 0.0
                rows.append((
                    doc_id, True, f"audio/{kind}", int(rate),
                    int(arr.shape[1]), int(n),
                    round(n / rate, 6),
                    round(float(np.sqrt(np.mean(x * x))), 6),
                    round(float(np.max(np.abs(x))) if n else 0.0, 6),
                    round(zc, 6),
                ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "ok", "format", "sample_rate", "channels",
                         "n_samples", "duration_s", "rms", "peak", "zcr"],
            )

    return media_df.mapInPandas(run, schema=out_schema)


def synthesize_avi_media(docs: DataFrame) -> DataFrame:
    """Deterministic REAL video containers: each document becomes a
    structurally-valid AVI whose main header (frame count from text
    length, dimensions and fps cycling from doc_id) round-trips through
    the actual RIFF encoder — the video face of synthesize_bmp_media /
    synthesize_wav_media. Map-side mapInPandas."""
    out_schema = "doc_id bigint, media binary"

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from franzoxide_spark.functions.video import encode_avi_header

        dims = ((320, 240), (640, 480), (1280, 720))
        rates = (24, 25, 30)
        for pdf in batches:
            media = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                w, h = dims[int(doc_id) % 3]
                media.append(
                    encode_avi_header(
                        max(len(text or "") // 10, 1), w, h,
                        rates[int(doc_id) % 3],
                    )
                )
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "media": media})

    return docs.select("doc_id", "text").mapInPandas(run, schema=out_schema)


def probe_video_meta(media_df: DataFrame) -> DataFrame:
    """Container-metadata probe for every video buffer: the resolution /
    fps / duration gates a curation pipeline applies WITHOUT decoding a
    single frame (codec decode stays gated — sample_frames covers the
    byte-level fan-out). Malformed buffers are flagged, not dropped.
    Map-side only at any scale."""
    out_schema = (
        "doc_id bigint, ok boolean, format string, width int, height int,"
        " fps double, n_frames int, duration_s double"
    )

    def run(batches: Iterator) -> Iterator:
        import pandas as pd

        from franzoxide_spark.functions.video import (
            parse_avi_header,
            sniff_video,
        )

        for pdf in batches:
            rows = []
            for doc_id, blob in zip(pdf["doc_id"], pdf["media"]):
                raw = bytes(blob)
                kind = sniff_video(raw)
                try:
                    m = parse_avi_header(raw)
                except ValueError:
                    rows.append((doc_id, False, kind, None, None, None,
                                 None, None))
                    continue
                rows.append((
                    doc_id, True, f"video/{kind}", m["width"], m["height"],
                    m["fps"], m["n_frames"], m["duration_s"],
                ))
            yield pd.DataFrame(
                rows,
                columns=["doc_id", "ok", "format", "width", "height",
                         "fps", "n_frames", "duration_s"],
            )

    return media_df.mapInPandas(run, schema=out_schema)
