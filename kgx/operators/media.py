"""Multimodal span plumbing — typed metadata + live decode/feature stages.

Media spans are opaque references with typed metadata
(:func:`media_inventory`); every decode stage parses REAL bytes with the
stdlib codecs for the three uncompressed formats the sandbox can carry —
BMP/PPM images (kgx.sources.miniimage), 16-bit PCM WAV audio
(kgx.sources.miniwav) and RIFF/AVI video (kgx.sources.miniavi), the same
generator+parser approach minidoc took for PDF/DOCX.  The
``synthesize_*_blobs`` stages materialize a deterministic binary column per
span (the sandbox stand-in for an object-store fetch), so the full
bytes-through-Arrow → parse → feature path runs and is oracle-checked
end-to-end.

Every codec stage is a per-row function run by :func:`_per_row`, the one
Arrow row-map: binary columns stream through Arrow batches, the Python
worker calls the codec once per row, and bounded ``maxRecordsPerBatch``
keeps worker memory flat.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kgx.functions import hashing

#: deterministic fake metadata derivation (oracle-reproducible): 60-bit md5
#: of the media_ref drives every synthesized property.
_H = hashing.spark_md5_60("media_ref")

MEDIA_META_EXPRS = {
    "media_type": (
        "CASE WHEN media_ref LIKE '%.png' OR media_ref LIKE '%.jpg' THEN 'image' "
        "WHEN media_ref LIKE '%.mp4' THEN 'video' "
        "WHEN media_ref LIKE '%.wav' OR media_ref LIKE '%.mp3' THEN 'audio' "
        "ELSE 'binary' END"
    ),
    "byte_size": f"cast({_H} % 10000000 as bigint)",
    "width": f"cast(({_H} % 1920) + 1 as int)",
    "height": f"cast(({_H} % 1080) + 1 as int)",
}


def media_inventory(spans_flat: DataFrame) -> DataFrame:
    """(doc_id, span_pos, kind, media_ref, ...) → typed media metadata table.
    Pure projection over media spans; pushdown-friendly (filter on kind)."""
    out = spans_flat.where(F.col("kind") == "media").select(
        "doc_id",
        F.col("span_pos").cast("int").alias("span_pos"),
        "media_ref",
        *[F.expr(e).alias(name) for name, e in MEDIA_META_EXPRS.items()],
    )
    return out


def _per_row(
    df: DataFrame, col: str, schema: str, fn: Callable[[object], list[tuple]]
) -> DataFrame:
    """The one Arrow row-map behind every codec stage: ``fn(value)`` runs
    once per row of ``col`` inside a single ``mapInPandas`` and returns a
    list of output tuples — one for a decode, several for a 1→N explode.
    Each tuple is prefixed with its row's ``(doc_id, media_ref)``; the
    output column names are ``schema``'s."""
    names = [field.split()[0] for field in schema.split(",")]

    def _map(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (doc, ref, *out)
                for doc, ref, value in zip(
                    pdf["doc_id"].tolist(),
                    pdf["media_ref"].tolist(),
                    pdf[col].tolist(),
                )
                for out in fn(value)
            ]
            yield pd.DataFrame(rows, columns=names)

    keys = ["doc_id", "media_ref"]
    return df.select(*keys, *([col] if col not in keys else [])).mapInPandas(
        _map, schema=schema
    )


BLOB_SCHEMA = "doc_id string, media_ref string, content binary"

DECODED_REAL_SCHEMA = (
    "doc_id string, media_ref string, format string, width int, height int, "
    "mean_r int, mean_g int, mean_b int"
)


def _md5_60(s: str) -> int:
    """Python twin of kgx.functions.hashing.spark_md5_60 / duckdb_md5_60."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def synthesize_media_blobs(inventory: DataFrame) -> DataFrame:
    """Deterministic real image bytes per media span — the sandbox
    stand-in for fetching the object-store blob a media_ref points at.

    Every property derives from the span's md5-60 hash (the shared
    cross-engine derivation, kgx.functions.hashing), so the DuckDB oracle
    recomputes what the decoder must read back: width ``1 + h % 31``,
    height ``1 + (h DIV 31) % 23``, a solid fill color ``(h % 256,
    h DIV 256 % 256, h DIV 65536 % 256)``, and the container format by hash
    parity (even → BMP, odd → PPM).  Solid fill keeps the oracle exact —
    per-channel mean == the fill value — while the decoder itself is
    format-general (gradient images are covered by unit tests)."""
    from kgx.sources import miniimage

    def _blob(ref: str) -> list[tuple]:
        h = _md5_60(ref)
        w = 1 + h % 31
        ht = 1 + (h // 31) % 23
        color = (h % 256, (h // 256) % 256, (h // 65536) % 256)
        enc = miniimage.encode_bmp if h % 2 == 0 else miniimage.encode_ppm
        return [(enc([[color] * w for _ in range(ht)]),)]

    return _per_row(inventory, "media_ref", BLOB_SCHEMA, _blob)


def decode_media_bytes(blobs: DataFrame) -> DataFrame:
    """LIVE image decode over a binary column: magic-sniffing stdlib
    BMP/PPM parse (kgx.sources.miniimage.sniff_decode) → dimensions and
    exact integer per-channel means.  Real bytes in, parsed features out,
    one Arrow crossing; unsupported magic raises so corrupt blobs surface
    instead of emitting garbage (same contract as the document codecs)."""
    from kgx.sources import miniimage

    def _decode(blob: bytes) -> list[tuple]:
        fmt, pixels = miniimage.sniff_decode(bytes(blob))
        return [
            (fmt, len(pixels[0]), len(pixels), *miniimage.channel_means(pixels))
        ]

    return _per_row(blobs, "content", DECODED_REAL_SCHEMA, _decode)


AUDIO_DECODED_SCHEMA = (
    "doc_id string, media_ref string, channels int, sample_rate int, "
    "n_frames int, duration_ms bigint, peak int, mean_abs int"
)


def synthesize_audio_blobs(inventory: DataFrame) -> DataFrame:
    """Deterministic real WAV bytes per AUDIO span (media_type == 'audio')
    — the audio twin of :func:`synthesize_media_blobs`.  Every property
    derives from the span's md5-60 hash: mono/stereo by parity, frame
    count ``160 + h % 800`` at 8 kHz, and a ±A square wave with amplitude
    ``1000 + (h DIV 7) % 20000`` — so the decoded peak and mean(|sample|)
    both equal A exactly and the DuckDB oracle recomputes every feature
    without touching bytes.  Arbitrary waveforms are covered by unit
    tests; the square wave is the oracle-exact gate shape."""
    from kgx.sources import miniwav

    def _blob(ref: str) -> list[tuple]:
        h = _md5_60(ref)
        channels = 1 + h % 2
        amp = 1000 + (h // 7) % 20000
        frames = [amp if i % 2 == 0 else -amp for i in range(160 + h % 800)]
        samples = frames if channels == 1 else [v for v in frames for _ in range(2)]
        return [(miniwav.encode_wav(samples, 8000, channels),)]

    audio = inventory.where(F.col("media_type") == "audio")
    return _per_row(audio, "media_ref", BLOB_SCHEMA, _blob)


def decode_audio_bytes(blobs: DataFrame) -> DataFrame:
    """LIVE audio decode over a binary column: stdlib RIFF/PCM parse
    (kgx.sources.miniwav.decode_wav) → exact-integer features (channels,
    rate, frames, duration, peak, mean |sample|).  Real bytes in, parsed
    features out, one Arrow crossing — corrupt blobs raise."""
    from kgx.sources import miniwav

    keys = ("channels", "sample_rate", "n_frames", "duration_ms", "peak", "mean_abs")

    def _decode(blob: bytes) -> list[tuple]:
        feats = miniwav.decode_wav(bytes(blob))
        return [tuple(feats[k] for k in keys)]

    return _per_row(blobs, "content", AUDIO_DECODED_SCHEMA, _decode)


VIDEO_DECODED_SCHEMA = (
    "doc_id string, media_ref string, format string, width int, height int, "
    "fps int, n_frames int, duration_ms bigint, mean_r int, mean_g int, "
    "mean_b int"
)

FRAME_REAL_SCHEMA = (
    "doc_id string, media_ref string, frame_idx int, ts_ms bigint, "
    "mean_r int, mean_g int, mean_b int"
)

#: fps choices for synthesized videos — every value divides 1000, so
#: duration_ms and per-frame ts_ms are exact integers on both engines
VIDEO_FPS_CHOICES = (4, 5, 8, 10, 20, 25)


def synthesize_video_blobs(inventory: DataFrame) -> DataFrame:
    """Deterministic real AVI bytes per VIDEO span (media_type == 'video')
    — the video member of the :func:`synthesize_media_blobs` family.
    Every property derives from the span's md5-60 hash ``h``: width
    ``1 + h % 15``, height ``1 + (h DIV 31) % 11``, fps
    ``VIDEO_FPS_CHOICES[h % 6]``, ``2 + (h DIV 7) % 9`` frames, and frame
    ``i`` is a solid fill ``((h + 37*i) % 256, (h DIV 256 + 53*i) % 256,
    (h DIV 65536 + 71*i) % 256)`` — so per-frame channel means equal the
    fill exactly and the whole-video floor-means reduce to
    ``sum(color_i) DIV n`` (the per-pixel count cancels), all recomputable
    by the DuckDB oracle without touching bytes.  Arbitrary frames are
    covered by the codec's unit/property tests; solid fills are the
    oracle-exact gate shape."""
    from kgx.sources import miniavi

    def _blob(ref: str) -> list[tuple]:
        h = _md5_60(ref)
        w = 1 + h % 15
        ht = 1 + (h // 31) % 11
        frames = []
        for i in range(2 + (h // 7) % 9):
            color = (
                (h + 37 * i) % 256,
                (h // 256 + 53 * i) % 256,
                (h // 65536 + 71 * i) % 256,
            )
            frames.append([[color] * w for _ in range(ht)])
        return [(miniavi.encode_avi(frames, VIDEO_FPS_CHOICES[h % 6]),)]

    video = inventory.where(F.col("media_type") == "video")
    return _per_row(video, "media_ref", BLOB_SCHEMA, _blob)


def decode_video_bytes(blobs: DataFrame) -> DataFrame:
    """LIVE video decode over a binary column: stdlib RIFF/AVI parse
    (kgx.sources.miniavi.decode_avi) → container features plus exact
    whole-video integer channel means (floor of the sum over every pixel
    of every frame).  ``fps`` is rate DIV scale and ``duration_ms`` is
    ``n * 1000 * scale DIV rate`` — exact for integer-fps files (all ours)
    and still well-defined for NTSC-style rationals.  Real bytes in,
    parsed features out, one Arrow crossing — corrupt blobs raise (same
    contract as the document/image/audio codecs)."""
    from kgx.sources import miniavi

    def _decode(blob: bytes) -> list[tuple]:
        v = miniavi.decode_avi(bytes(blob))
        n = len(v["frames"])
        npx = n * v["width"] * v["height"]
        sr = sg = sb = 0
        for frame in v["frames"]:
            for row in frame:
                for r, g, b in row:
                    sr += r
                    sg += g
                    sb += b
        return [(
            "avi", v["width"], v["height"], v["rate"] // v["scale"], n,
            n * 1000 * v["scale"] // v["rate"], sr // npx, sg // npx, sb // npx,
        )]

    return _per_row(blobs, "content", VIDEO_DECODED_SCHEMA, _decode)


def video_frame_means(blobs: DataFrame) -> DataFrame:
    """LIVE 1→N frame explode over real video bytes: each AVI row yields
    one output row per frame with its timestamp and exact per-frame
    integer channel means — the same worker-memory shape a production
    sampler has (frames stream out through Arrow batches).
    ``ts_ms = frame_idx * 1000 * scale DIV rate`` in exact integer
    arithmetic."""
    from kgx.sources import miniavi
    from kgx.sources.miniimage import channel_means

    def _explode(blob: bytes) -> list[tuple]:
        v = miniavi.decode_avi(bytes(blob))
        return [
            (i, i * 1000 * v["scale"] // v["rate"], *channel_means(frame))
            for i, frame in enumerate(v["frames"])
        ]

    return _per_row(blobs, "content", FRAME_REAL_SCHEMA, _explode)


RESIZED_REAL_SCHEMA = (
    "doc_id string, media_ref string, format string, width int, height int, "
    "out_width int, out_height int, mean_r int, mean_g int, mean_b int"
)


def _aspect_fit(w: int, h: int, max_w: int, max_h: int) -> tuple[int, int]:
    """Aspect-fit target dims, never upscaled — exact integer arithmetic
    (floor-divide, min 1 px) that the DuckDB oracle replays bit-for-bit:
    wide images clamp to ``max_w``, tall ones to ``max_h``."""
    if w <= max_w and h <= max_h:
        return w, h
    if w * max_h >= h * max_w:
        return max_w, max(1, (h * max_w) // w)
    return max(1, (w * max_h) // h), max_h


def resize_media_real(
    blobs: DataFrame, max_w: int = 8, max_h: int = 8
) -> DataFrame:
    """LIVE thumbnailing over a binary image column: stdlib decode →
    nearest-neighbor aspect-fit resample → re-encode in the SAME container
    → decode the thumbnail back and report its dims + exact integer channel
    means.  The full encode→resize→re-encode→re-decode loop runs on real
    bytes (kgx.sources.miniimage), so a malformed thumbnail container would
    fail loudly rather than ship; solid-fill inputs keep their fill exactly
    (nearest-neighbor takes existing pixels), which is what makes the
    DuckDB oracle exact on the gate corpus."""
    from kgx.sources import miniimage

    def _resize(blob: bytes) -> list[tuple]:
        fmt, pixels = miniimage.sniff_decode(bytes(blob))
        h = len(pixels)
        w = len(pixels[0])
        ow, oh = _aspect_fit(w, h, max_w, max_h)
        enc = miniimage.encode_bmp if fmt == "bmp" else miniimage.encode_ppm
        _, thumb = miniimage.sniff_decode(
            enc(miniimage.nearest_resize(pixels, ow, oh))
        )
        return [
            (fmt, w, h, len(thumb[0]), len(thumb), *miniimage.channel_means(thumb))
        ]

    return _per_row(blobs, "content", RESIZED_REAL_SCHEMA, _resize)


def media_caption_pairs(spans_flat: DataFrame) -> DataFrame:
    """Caption mining over the interleaved span sequence (MMC4 / OBELICS
    style): for every media span, the nearest non-empty TEXT spans on
    either side in document order, plus the prefer-previous ``caption`` —
    the (image, caption) pair extraction an interleaved multimodal corpus
    feeds to image-text training.

    Input: the flat span table (kgx.operators.spans.explode_spans —
    doc_id, span_pos, kind, text, media_ref).  One shuffle: the per-doc
    window partitioned by doc_id, ordered by the EXPLICIT span_pos (the
    north-rule span-order invariant, never implicit row order).

    Output: (doc_id, media_ref, span_pos, prev_text, next_text, caption).
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy("doc_id").orderBy("span_pos")
    text_col = F.when(
        (F.col("kind") == "text") & (F.length("text") > 0), F.col("text")
    )
    prev = F.last(text_col, ignorenulls=True).over(
        w.rowsBetween(Window.unboundedPreceding, -1)
    )
    nxt = F.first(text_col, ignorenulls=True).over(
        w.rowsBetween(1, Window.unboundedFollowing)
    )
    return (
        spans_flat.withColumn("prev_text", prev)
        .withColumn("next_text", nxt)
        .where(F.col("kind") == "media")
        .select(
            "doc_id",
            "media_ref",
            F.col("span_pos").cast("int").alias("span_pos"),
            "prev_text",
            "next_text",
            F.coalesce("prev_text", "next_text").alias("caption"),
        )
    )
