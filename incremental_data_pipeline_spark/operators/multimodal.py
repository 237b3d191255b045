"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Images/audio/video ride through the pipeline as `binary` columns with a
metadata struct; decode/feature-extraction runs as Arrow-batched
`mapInPandas` (the one place Python belongs: per-batch byte work the JVM
can't express). Formats needing codec libraries (JPEG/PNG/audio) are out
of reach in this container, but `decode_image` is a REAL parser for the
dependency-free PGM (P5) format — header, dimensions, raster stats — and
everything Spark-side is real and tested: schema, Arrow batch shape,
partition-parallel execution, metadata extraction.

One seam, one parser per format:

- ``_map_payloads(df, (id, value), schema, fn)`` is the only Arrow seam.
  It fans the input out, runs ``mapInPandas`` and builds each output batch
  from the tuples ``fn(doc_id, value)`` yields in schema order. Every
  operator below is just its per-payload ``fn``.
- ``_pgm`` parses a PGM (P5) payload — magic, header and raster-size
  checks — for ``decode_image``, ``resize_image`` and ``ahash_image``;
  ``_wav_samples`` does the same for RIFF/WAVE audio.
- ``_printable`` is the one text sanitizer behind the PGM and WAV
  renderers.

At 100 TB: binary payloads dominate partition size, so reads go through
`spark.sql.files.maxPartitionBytes`-bounded splits and the decode stage is
a narrow map (no shuffle); feature outputs (embeddings, frames) feed the
similarity/dedup operators downstream.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from incremental_data_pipeline_spark.functions.util import FAN_OUT_ARROW_BPT, fan_out

DECODED_SCHEMA = "doc_id long, n_bytes long, first_byte int, content_md5 string"


def _map_payloads(df: DataFrame, cols: tuple, schema: str, fn) -> DataFrame:
    """Run ``fn(doc_id, value)`` over the two columns ``cols`` (names or
    Column expressions) of every row as one narrow Arrow-batched map.
    ``fn`` yields zero or more output tuples in ``schema`` order; each
    batch's tuples become one pandas frame with the schema's column names.
    The input is fanned out first, sized by its input bytes
    (``FAN_OUT_ARROW_BPT``). ``schema`` is a DDL string whose types hold
    no commas."""
    names = [field.split()[0] for field in schema.split(",")]

    def run(batches):
        for pdf in batches:
            rows = [out for row in pdf.itertuples(index=False, name=None) for out in fn(*row)]
            yield pd.DataFrame.from_records(rows, columns=names)

    return fan_out(df, bytes_per_task=FAN_OUT_ARROW_BPT).select(*cols).mapInPandas(run, schema)


def _printable(text_col: str) -> Column:
    """Every char outside printable ASCII (0x20-0x7E) becomes one space.
    That pins 1 char == 1 byte (so a rendered payload's size is the text
    length even for multi-byte UTF-8 input) and removes embedded newlines
    that would corrupt the PGM header split in ``_pgm`` — without it, one
    bad document fails the whole mapInPandas job. Identity for ASCII
    corpora like the fixtures."""
    return F.regexp_replace(F.col(text_col), r"[^\x20-\x7E]", " ")


def _pgm(payload: bytes, doc_id) -> tuple[int, np.ndarray]:
    """Parse one PGM (P5) payload to ``(maxval, raster)``, the raster an
    h×w uint8 array. Fails loud on a wrong magic, a short header or a
    raster whose size is not w×h."""
    parts = bytes(payload).split(b"\n", 3)
    if len(parts) != 4 or parts[0] != b"P5":
        raise ValueError(f"not a P5 PGM payload (doc {doc_id})")
    _, dims, maxval, raster = parts
    w, h = (int(x) for x in dims.split())
    arr = np.frombuffer(raster, dtype=np.uint8)
    if arr.size != w * h:
        raise ValueError(f"raster size {arr.size} != {w}x{h}")
    return int(maxval), arr.reshape(h, w)


def attach_binary(df: DataFrame, text_col: str = "text", out: str = "content") -> DataFrame:
    """Deterministic fake media: the utf-8 bytes of a text column. Stands in
    for real image/audio payloads so the binary path is exercisable."""
    return df.withColumn(out, F.encode(F.col(text_col), "utf-8"))


def decode_binary_metadata(df: DataFrame, id_col: str = "doc_id", bin_col: str = "content") -> DataFrame:
    """Arrow-batched metadata extraction over a binary column.

    A real decode (image resize, audio resample, video frame-sample) is
    another per-payload function on the same seam; this one extracts
    byte-level metadata and the content hash — enough to prove the batch
    shape and schema plumbing.
    """

    def meta(doc_id, b):
        yield doc_id, len(b), b[0] if len(b) else -1, hashlib.md5(b).hexdigest()

    return _map_payloads(df, (id_col, bin_col), DECODED_SCHEMA, meta)


PGM_WIDTH = 16
IMAGE_SCHEMA = "doc_id long, width int, height int, maxval int, mean_pixel_milli long"


def attach_pgm_image(df: DataFrame, text_col: str = "text", out: str = "content") -> DataFrame:
    """Render the text bytes as a REAL binary-format grayscale image:
    PGM 'P5' (netpbm) — ASCII header ``P5\\n<w> <h>\\n255\\n`` followed by
    w×h raw pixel bytes. Width is fixed at PGM_WIDTH; the last row is
    space-padded. Pure built-ins (one string concat + encode), so image
    construction is a narrow codegen'd map — and the payloads are honest
    images any netpbm tool can open, not opaque fakes.

    The raster is built from a ``_printable`` copy of the text, so
    height×width == raster byte count for every document."""
    clean = _printable(text_col)
    n = F.length(clean)
    h = ((n + F.lit(PGM_WIDTH - 1)) / F.lit(PGM_WIDTH)).cast("int")
    header = F.concat(
        F.lit(f"P5\n{PGM_WIDTH} "), h.cast("string"), F.lit("\n255\n")
    )
    pad = F.repeat(F.lit(" "), (h * PGM_WIDTH - n).cast("int"))
    return df.withColumn(out, F.encode(F.concat(header, clean, pad), "utf-8"))


def decode_image(df: DataFrame, id_col: str = "doc_id", bin_col: str = "content") -> DataFrame:
    """REAL image decode — a pure-Python parser for the dependency-free
    PGM (P5) format: validate the magic, parse dimensions and maxval from
    the header, and compute pixel statistics from the raster (``_pgm``).
    The same seam takes a PIL/opencv decode for formats that need codec
    libraries; this one runs everywhere.

    ``mean_pixel_milli`` is integer-exact (1000×sum // n_pixels) so the
    decode is oracle-verifiable bit-for-bit."""

    def decode(doc_id, payload):
        maxval, px = _pgm(payload, doc_id)
        h, w = px.shape
        yield doc_id, w, h, maxval, 1000 * int(px.sum()) // (w * h)

    return _map_payloads(df, (id_col, bin_col), IMAGE_SCHEMA, decode)


RESIZED_SCHEMA = (
    "doc_id long, width int, height int, resized binary, mean_pixel_milli long"
)


def resize_image(
    df: DataFrame,
    out_w: int = 8,
    id_col: str = "doc_id",
    bin_col: str = "content",
) -> DataFrame:
    """REAL image resize: nearest-neighbor downsample of each PGM (P5)
    payload to ``out_w`` columns and half the source height (min 1),
    re-emitting a valid PGM payload plus integer-exact raster stats.

    Nearest-neighbor with integer source indexing (src_row = y*h // out_h,
    src_col = x*w // out_w) is the one resampling kernel that is exactly
    reproducible in SQL — ``mean_pixel_milli`` over the selected pixels is
    the oracle hook, the same determinism trick as ``decode_image``. A
    PIL/opencv bilinear resize slots into the same seam when codec libs
    exist. Narrow map, no shuffle; output payloads shrink by ~4x, the
    usual reason a 100 TB image corpus resizes early.
    """

    def resize(doc_id, payload):
        maxval, px = _pgm(payload, doc_id)
        h, w = px.shape
        out_h = max(h // 2, 1)
        small = px[np.ix_(np.arange(out_h) * h // out_h, np.arange(out_w) * w // out_w)]
        blob = f"P5\n{out_w} {out_h}\n{maxval}\n".encode() + small.tobytes()
        yield doc_id, out_w, out_h, blob, 1000 * int(small.sum()) // (out_w * out_h)

    return _map_payloads(df, (id_col, bin_col), RESIZED_SCHEMA, resize)


FEATURE_DIM = 16
FEATURES_SCHEMA = "doc_id long, feature array<double>"
FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_offset long, frame_bytes long, frame_md5 string"


def extract_features(df: DataFrame, id_col: str = "doc_id", bin_col: str = "content") -> DataFrame:
    """Feature extraction over binary payloads: a fixed-dim array<double>
    per payload.

    The featurizer is a deterministic stand-in (L1-normalized 16-bin byte
    histogram; all zeros for an empty payload) for a real image/audio
    encoder — swap ``featurize`` for a model call; the Spark contract
    (schema, batch shape, narrow no-shuffle map) is the production one.
    Output feeds the similarity operators (brute_force_topk / lsh_topk /
    ivf_topk) unchanged.
    """

    def featurize(doc_id, payload):
        arr = np.frombuffer(payload, dtype=np.uint8)
        hist = np.bincount(arr >> 4, minlength=FEATURE_DIM).astype("float64")
        yield doc_id, (hist / max(hist.sum(), 1.0)).tolist()

    return _map_payloads(df, (id_col, bin_col), FEATURES_SCHEMA, featurize)


def frame_sample(
    df: DataFrame, n_frames: int = 4, id_col: str = "doc_id", bin_col: str = "content"
) -> DataFrame:
    """Frame sampling over binary payloads: emit ``n_frames`` evenly spaced
    chunks per payload (offset + length + content hash), the plumbing shape
    of video keyframe extraction. One input row fans out to n output rows
    inside the Arrow batch — still a narrow map, no shuffle.

    A real codec would decode at each offset; byte-slicing is the
    deterministic stand-in (codec libraries absent in this container).
    """

    def frames(doc_id, payload):
        size = len(payload)
        step = max(size // n_frames, 1)
        for i in range(n_frames):
            off = min(i * step, size)
            chunk = bytes(payload[off : off + step])
            yield doc_id, i, off, len(chunk), hashlib.md5(chunk).hexdigest()

    return _map_payloads(df, (id_col, bin_col), FRAMES_SCHEMA, frames)


WAV_SAMPLE_RATE = 8000
AUDIO_SCHEMA = (
    "doc_id long, n_samples long, sample_rate int, peak_abs int, "
    "mean_square_milli long, zero_crossings long"
)


def attach_wav_audio(
    df: DataFrame, text_col: str = "text", out: str = "content", id_col: str = "doc_id"
) -> DataFrame:
    """Render each document as a REAL audio file: canonical 44-byte
    RIFF/WAVE header + mono 16-bit PCM, one sample per sanitized text
    byte (sample = (byte − 79)·256, spanning ±12k of the int16 range) —
    honest payloads any audio tool can open, the audio twin of
    ``attach_pgm_image``. The JVM-side ``_printable`` sanitizer, shared
    with the PGM path, pins 1 char == 1 sample for the oracle.

    Returns ``doc_id`` and the payload column ``out``. Binary packing is
    byte work the JVM can't express, so the pack runs in the Arrow seam;
    the stage is a narrow map, no shuffle."""

    def pack(doc_id, text):
        s = (np.frombuffer(text.encode("ascii"), dtype=np.uint8).astype(np.int16) - 79) * 256
        data = s.astype("<i2").tobytes()
        hdr = struct.pack(
            "<4sI4s4sIHHIIHH4sI",
            b"RIFF", 36 + len(data), b"WAVE",
            b"fmt ", 16, 1, 1,
            WAV_SAMPLE_RATE, WAV_SAMPLE_RATE * 2, 2, 16,
            b"data", len(data),
        )
        yield doc_id, hdr + data

    cols = (id_col, _printable(text_col).alias("__clean"))
    return _map_payloads(df, cols, f"doc_id long, {out} binary", pack)


def _wav_samples(payload: bytes, doc_id) -> tuple[int, np.ndarray]:
    """Parse one RIFF/WAVE mono PCM16 payload to its sample rate and an
    int64 sample array, validating magic, format chunk, and layout — fails
    loud on anything that is not the advertised format."""
    b = bytes(payload)
    if len(b) < 44 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        raise ValueError(f"not a RIFF/WAVE payload (doc_id={doc_id})")
    fmt_id, fmt_sz, audio_fmt, n_ch, rate, _br, _ba, bits = struct.unpack(
        "<4sIHHIIHH", b[12:36]
    )
    data_id, data_len = struct.unpack("<4sI", b[36:44])
    if (
        fmt_id != b"fmt "
        or fmt_sz != 16
        or audio_fmt != 1
        or n_ch != 1
        or bits != 16
        or data_id != b"data"
    ):
        raise ValueError(f"unsupported WAV layout (doc_id={doc_id})")
    return rate, np.frombuffer(b, dtype="<i2", offset=44, count=data_len // 2).astype(
        np.int64
    )


def decode_wav_audio(
    df: DataFrame, id_col: str = "doc_id", bin_col: str = "content", stride: int = 1
) -> DataFrame:
    """REAL audio decode + feature extraction over the binary column: RIFF
    header parse, then integer-exact waveform stats — peak amplitude,
    mean-square energy (×1000, floor-divided: bit-reproducible), and
    zero-crossing count, the dependency-free stand-ins for loudness /
    spectral features. ``stride > 1`` decimates (every stride-th sample)
    before the stats — naive resampling, the audio twin of
    ``resize_image``.

    Scale shape: narrow Arrow-batched map, no shuffle; payload bytes
    never leave the partition."""

    def stats(doc_id, payload):
        rate, s = _wav_samples(payload, doc_id)
        s = s[::stride]
        n = len(s)
        if not n:
            yield doc_id, 0, rate // stride, 0, 0, 0
            return
        sgn = np.sign(s)
        yield (
            doc_id, n, rate // stride, int(np.max(np.abs(s))),
            1000 * int((s * s).sum()) // n, int(((sgn[:-1] * sgn[1:]) < 0).sum()),
        )

    return _map_payloads(df, (id_col, bin_col), AUDIO_SCHEMA, stats)


AHASH_SCHEMA = "doc_id long, ahash string"


def ahash_image(df: DataFrame, id_col: str = "doc_id", bin_col: str = "content") -> DataFrame:
    """Perceptual average-hash (aHash) of a PGM payload: the raster is
    block-averaged onto an 8x8 grid, each cell emits 1 iff its mean
    exceeds the whole-image mean, and the 64 bits (row-major) form the
    visual fingerprint — the classic cheap near-dup hash for images
    (identical hash => visually identical content at 8x8 granularity,
    robust to trailing-pad / minor edits that leave block means alone).

    All arithmetic is integer (milli-means via 1000*sum//count), and the
    cell mapping is the explicit floor rule cell_y = min(y*8//h, 7), so
    the DuckDB oracle recomputes the SAME 64 bits from the source text —
    a perceptual hash under the exact-correctness gate, not just a
    Python-side artifact. Cells empty at h < 8 contribute 0 bits by rule.

    Scale shape: one Arrow-batched pass per partition; payload bytes
    never cross the network — only the 64-char hash leaves."""

    def ahash(doc_id, payload):
        _, px = _pgm(payload, doc_id)
        h, w = px.shape
        total_milli = 1000 * int(px.sum()) // (w * h)
        ys = np.minimum(np.arange(h) * 8 // h, 7)
        xs = np.minimum(np.arange(w) * 8 // w, 7)
        cell = (ys[:, None] * 8 + xs[None, :]).ravel()
        sums = np.bincount(cell, weights=px.ravel(), minlength=64).astype(np.int64)
        cnts = np.bincount(cell, minlength=64)
        bits = ("1" if c and 1000 * s // c > total_milli else "0" for s, c in zip(sums, cnts))
        yield doc_id, "".join(bits)

    return _map_payloads(df, (id_col, bin_col), AHASH_SCHEMA, ahash)
