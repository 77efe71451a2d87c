"""Multimodal (image/audio/video) column plumbing.

Media payloads are **opaque binary columns with typed metadata** — the
engine never shuffles image bytes with text (SURVEY §1.2: media spans
carry ``media_ref`` pointers). This module provides the Spark-side
decode / feature-extract stages:

* :func:`media_manifest` — per-media-span manifest with deterministic
  storage metadata (bucket assignment for co-located fetch, synthetic
  byte sizes standing in for object-store stat calls);
* :func:`fetch_bytes` — resolves ``media_ref`` → payload bytes. The
  sandbox has no object store, so payloads are synthesized
  deterministically from the ref — but they are REAL container files
  (valid BMP images / PCM WAV audio, spec below), so the decode stage
  genuinely parses bytes;
* :func:`decode_media` — the ``mapInPandas`` decode/feature stage.
  BMP and PCM-WAV decoding is REAL (pure ``struct``/stdlib — these
  uncompressed containers need no codec library): magic sniff, header
  parse, dimension/sample extraction, plus a content feature (mean
  pixel level / RMS amplitude) computed from the actual payload.
  Compressed codecs (JPEG/PNG/H.264 …) remain the documented
  ``NotImplementedError`` stub — the container ships no image/audio
  libraries — at exactly the granularity where a codec is required.

Payload synthesis spec (shared with the DuckDB oracle — the decoded
header fields are a pure function of md5(media_ref), so the driver can
verify the full bytes→parse round trip):

  hx = md5(media_ref) hex; h8 = int(hx[:8],16); bK = int(hx[2K:2K+2],16)
  h8 even → 24-bit BMP: width 4·(1+b0%8), height 1+b1%8 (width is a
    multiple of 4 so rows need no stride padding); n_bytes = 54+3wh
  h8 odd  → 16-bit mono PCM WAV @8 kHz: n_samples 64+4·b2;
    n_bytes = 44+2n
  content bytes = md5(ref+"#px") digest repeated/truncated.
"""

from __future__ import annotations

import hashlib
import struct
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

N_FETCH_BUCKETS = 64
WAV_SR = 8000

DECODE_SCHEMA = (
    "doc_id string, media_ref string, format string, width int, height int, "
    "channels int, sample_rate int, n_samples long, n_bytes long, "
    "mean_level double"
)


def media_manifest(extracted: DataFrame) -> DataFrame:
    """Extraction output → one row per media span with fetch metadata."""
    media = F.filter(F.col("spans"), lambda s: s["kind"] == "media")
    rows = extracted.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.explode(media).alias("s"),
    )
    href = F.conv(F.substring(F.md5(F.col("s.media_ref")), 1, 8), 16, 10).cast(
        "long"
    )
    return rows.select(
        "doc_id",
        F.col("s.media_ref").alias("media_ref"),
        F.col("s.order").cast("long").alias("ord"),
        (href % 100000).alias("n_bytes_est"),
        (href % N_FETCH_BUCKETS).cast("int").alias("fetch_bucket"),
    )


def synth_media_payload(media_ref: str) -> bytes:
    """Deterministic REAL container bytes for a ref (spec in the module
    docstring). Real deployment: object-store ranged GET by media_ref."""
    hx = hashlib.md5(media_ref.encode()).hexdigest()
    h8 = int(hx[:8], 16)
    b0, b1, b2 = int(hx[0:2], 16), int(hx[2:4], 16), int(hx[4:6], 16)
    content = hashlib.md5((media_ref + "#px").encode()).digest()
    if h8 % 2 == 0:
        w, h = 4 * (1 + b0 % 8), 1 + b1 % 8
        npix = 3 * w * h
        data = (content * (npix // 16 + 1))[:npix]
        file_hdr = struct.pack("<2sIHHI", b"BM", 54 + npix, 0, 0, 54)
        info_hdr = struct.pack(
            "<IiiHHIIiiII", 40, w, h, 1, 24, 0, npix, 2835, 2835, 0, 0
        )
        return file_hdr + info_hdr + data
    n = 64 + 4 * b2
    data = (content * (2 * n // 16 + 1))[: 2 * n]
    return (
        b"RIFF"
        + struct.pack("<I", 36 + 2 * n)
        + b"WAVE"
        + b"fmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, WAV_SR, WAV_SR * 2, 2, 16)
        + b"data"
        + struct.pack("<I", 2 * n)
        + data
    )


def fetch_bytes(manifest: DataFrame) -> DataFrame:
    """media manifest → + payload binary column, batched via Arrow."""

    @F.pandas_udf("binary")
    def _fetch(refs: pd.Series) -> pd.Series:
        return refs.map(synth_media_payload)

    return manifest.withColumn("payload", _fetch("media_ref"))


def parse_media(payload: bytes) -> dict:
    """REAL codec-free container parse: BMP and PCM-WAV by magic sniff
    + header fields + a content feature from the actual bytes. Any
    other magic (JPEG/PNG/…) needs a codec library this container does
    not ship → NotImplementedError (the documented stub boundary)."""
    if payload is None or len(payload) < 12:
        raise ValueError("payload too short to sniff")
    if payload[:2] == b"BM":
        (off,) = struct.unpack_from("<I", payload, 10)
        _hsz, w, h = struct.unpack_from("<Iii", payload, 14)
        _planes, bpp = struct.unpack_from("<HH", payload, 26)
        pix = payload[off:]
        mean = sum(pix) / len(pix) if pix else 0.0
        return {
            "format": "bmp", "width": w, "height": abs(h),
            "channels": bpp // 8, "sample_rate": 0, "n_samples": 0,
            "n_bytes": len(payload), "mean_level": mean,
        }
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        pos, sr, ch, data = 12, 0, 0, b""
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            (sz,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"fmt ":
                _f, ch, sr, _br, _ba, _bits = struct.unpack_from(
                    "<HHIIHH", payload, pos + 8
                )
            elif cid == b"data":
                data = payload[pos + 8:pos + 8 + sz]
            pos += 8 + sz + (sz % 2)
        import array

        a = array.array("h")
        a.frombytes(data[: 2 * (len(data) // 2)])
        rms = (sum(x * x for x in a) / len(a)) ** 0.5 if len(a) else 0.0
        return {
            "format": "wav", "width": 0, "height": 0,
            "channels": ch, "sample_rate": sr,
            "n_samples": len(a) // ch if ch else 0,
            "n_bytes": len(payload), "mean_level": rms,
        }
    raise NotImplementedError(
        "compressed codec (JPEG/PNG/H.264 ...) — requires an image/audio "
        "library this container does not ship"
    )


def decode_media(with_payload: DataFrame) -> DataFrame:
    """mapInPandas decode/feature stage (Arrow binary in → typed rows
    out). BMP/WAV parse is real; unknown magic raises (see
    :func:`parse_media`)."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):  # empty Arrow batch: nothing to shape
                continue
            decoded = pdf["payload"].map(parse_media)
            out = pd.DataFrame(list(decoded))
            out.insert(0, "media_ref", pdf["media_ref"].values)
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out["width"] = out["width"].astype("int32")
            out["height"] = out["height"].astype("int32")
            out["channels"] = out["channels"].astype("int32")
            out["sample_rate"] = out["sample_rate"].astype("int32")
            out["n_samples"] = out["n_samples"].astype("int64")
            out["n_bytes"] = out["n_bytes"].astype("int64")
            yield out

    return with_payload.select("doc_id", "media_ref", "payload").mapInPandas(
        _batches, DECODE_SCHEMA
    )


# media admission policy (spec constants shared with the oracle —
# change oracles.media_filter_sql together)
MEDIA_MIN_W = 8          # image resolution floor
MEDIA_MIN_H = 2
MEDIA_MAX_ASPECT = 8     # keep iff width <= 8 * height (no division)
MEDIA_MIN_SAMPLES = 256  # audio duration floor


def media_filter(decoded: DataFrame) -> DataFrame:
    """Media admission policy over DECODED container headers — the
    multimodal analogue of corpus_filter: resolution floor + aspect
    cap for images, duration floor + expected sample rate for audio,
    one fixed drop-reason precedence. All predicates are pure integer
    comparisons (the aspect cap is ``width <= 8*height``, never a
    division) evaluated on the bytes→struct parse output, so the gate
    exercises the real decode plumbing end to end. Emits every media
    span with (keep, drop_reason) — filter on keep to materialize.

    Scale shape: a narrow projection over the decode output; no
    shuffle, no Python beyond the decode stage itself."""
    is_img = F.col("format") == "bmp"
    reason = (
        F.when(is_img & (F.col("width") < MEDIA_MIN_W), "too_narrow")
        .when(is_img & (F.col("height") < MEDIA_MIN_H), "too_flat")
        .when(
            is_img
            & (F.col("width") > MEDIA_MAX_ASPECT * F.col("height")),
            "extreme_aspect",
        )
        .when(
            (~is_img) & (F.col("n_samples") < MEDIA_MIN_SAMPLES),
            "too_short_audio",
        )
        .when((~is_img) & (F.col("sample_rate") != WAV_SR), "bad_sample_rate")
    )
    return decoded.select(
        "doc_id", "media_ref", "format", reason.alias("drop_reason")
    ).select(
        "doc_id",
        "media_ref",
        "format",
        F.col("drop_reason").isNull().alias("keep"),
        "drop_reason",
    )


THUMB_GRID = 4  # thumbnail = GRID×GRID sampled cells (spec constant —
                # change oracles.media_thumbnail_sql together)

THUMB_SCHEMA = (
    "doc_id string, media_ref string, format string, "
    "thumb_sig string, thumb_mean double"
)


def _thumb_values(payload: bytes, t: int) -> tuple[str, list[int]]:
    """REAL codec-free downsample on the container bytes: BMP →
    nearest-neighbour t×t pixel grid (value = B+G+R byte sum per cell;
    the synthetic pixel buffer is row-major stride 3·w, no alignment
    padding — documented in synth_media_payload); WAV → t² evenly
    spaced int16 waveform samples. Compressed codecs raise at the same
    stub boundary as parse_media."""
    if payload[:2] == b"BM":
        (off,) = struct.unpack_from("<I", payload, 10)
        _hsz, w, h = struct.unpack_from("<Iii", payload, 14)
        h = abs(h)
        pix = payload[off:]
        vals = []
        for i in range(t * t):
            ty, tx = divmod(i, t)
            base = 3 * (((ty * h) // t) * w + (tx * w) // t)
            vals.append(pix[base] + pix[base + 1] + pix[base + 2])
        return "bmp", vals
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        import array

        pos, data = 12, b""
        while pos + 8 <= len(payload):
            cid = payload[pos:pos + 4]
            (sz,) = struct.unpack_from("<I", payload, pos + 4)
            if cid == b"data":
                data = payload[pos + 8:pos + 8 + sz]
            pos += 8 + sz + (sz % 2)
        a = array.array("h")
        a.frombytes(data[: 2 * (len(data) // 2)])
        n = len(a)
        vals = [int(a[(i * n) // (t * t)]) for i in range(t * t)]
        return "wav", vals
    raise NotImplementedError(
        "compressed codec (JPEG/PNG/H.264 ...) — requires an image/audio "
        "library this container does not ship"
    )


def thumbnail_media(with_payload: DataFrame) -> DataFrame:
    """mapInPandas thumbnail stage — the RESIZE step of the multimodal
    pipeline, REAL for the codec-free formats (BMP pixel grid, WAV
    waveform envelope): one integer per grid cell, comma-joined so the
    signature crosses the oracle boundary as a string, plus the cell
    mean (one int/int division). Same Arrow-batch shape and stub
    boundary as decode_media."""

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            if not len(pdf):
                continue
            fmts, sigs, means = [], [], []
            for payload in pdf["payload"]:
                fmt, vals = _thumb_values(payload, THUMB_GRID)
                fmts.append(fmt)
                sigs.append(",".join(str(v) for v in vals))
                means.append(float(sum(vals)) / (THUMB_GRID * THUMB_GRID))
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].values,
                    "media_ref": pdf["media_ref"].values,
                    "format": fmts,
                    "thumb_sig": sigs,
                    "thumb_mean": means,
                }
            )

    return with_payload.select("doc_id", "media_ref", "payload").mapInPandas(
        _batches, THUMB_SCHEMA
    )


def media_phash_groups(thumbs: DataFrame) -> DataFrame:
    """Average-hash perceptual dedup over the REAL decoded thumbnails
    — the standard cheap image/audio near-dup pass (logo and
    boilerplate images repeated across millions of pages; identical
    audio stings): aHash bit i = (cell_i > thumbnail mean), media
    sharing a (format, aHash) bucket form a dup group. Runs ON TOP of
    :func:`thumbnail_media`'s output, so the only Python is the
    already-oracled decode/resize stage; the hash and grouping are
    pure relational expressions.

    Scale shape: one narrow projection (split + per-element compare +
    join — all inside codegen) then one map-side-combinable
    groupBy((format, aHash)); a billion-copy logo is ONE group row.
    Emits only groups with ≥ 2 members."""
    cells = F.transform(
        F.split("thumb_sig", ","), lambda s: s.cast("double")
    )
    bits = F.transform(
        cells,
        lambda c: F.when(c > F.col("thumb_mean"), F.lit("1")).otherwise(
            F.lit("0")
        ),
    )
    hashed = thumbs.select(
        "doc_id",
        "media_ref",
        "format",
        F.concat_ws("", bits).alias("ahash"),
    )
    return (
        hashed.groupBy("format", "ahash")
        .agg(
            F.count("*").cast("long").alias("n_media"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
            F.min("media_ref").alias("example_ref"),
        )
        .filter(F.col("n_media") >= 2)
    )


def media_phash_pairs(thumbs: DataFrame) -> DataFrame:
    """Near-dup media PAIRS at hamming ≤ 3 over the 16-bit aHash — the
    companion of :func:`media_phash_groups` (exact-equal hashes) for
    slightly-edited media (re-crops, re-encodes, watermark overlays):
    the thumbnail bit vector folds to a 16-bit integer fingerprint and
    reuses the text pipeline's Manku banded machinery verbatim
    (dedup.simhash_candidate_pairs: 4×4-bit band equi-join —
    pigeonhole-complete for ham ≤ 3 — hot-band guard, exact popcount
    verify). Emits (a, b, hamming) with media_refs as the pair ids.

    Scale shape: identical to the text SimHash path — candidate
    generation is a bounded-bucket equi-join, never all-pairs; media
    bytes stay out of the plan after the thumbnail stage."""
    from . import dedup

    cells = F.transform(
        F.split("thumb_sig", ","), lambda s: s.cast("double")
    )
    bits = F.transform(
        cells,
        lambda c: (c > F.col("thumb_mean")).cast("long"),
    )
    phash = F.aggregate(
        bits, F.lit(0).cast("long"), lambda acc, b: acc * 2 + b
    )
    fps = thumbs.select(
        F.col("media_ref").alias("doc_id"), phash.alias("simhash")
    )
    return dedup.simhash_candidate_pairs(fps)
