"""Multimodal column plumbing: opaque binary payloads + typed metadata.

Decode is REAL for the codec-free container formats — BMP (24-bit
uncompressed), PPM (P6), WAV (PCM16) — parsed pure-Python/numpy inside
the mapInPandas batch, so ``decode_features(decode_stub=False)`` returns
actual pixel/sample statistics.  Formats that genuinely need absent
codecs (jpeg/png/webp/video) stay behind the clearly marked stub:
``decode_stub=True`` yields deterministic fake features; the real path
NULLs their feature columns (or raises under ``strict=True``) — one
corrupt or exotic blob in a 100 TB corpus must not abort the pass.

At scale: binary payloads stay columnar in parquet; metadata predicates
(format, byte_len) push down so full blobs are only read for surviving
rows; decode parallelism = input splits, no shuffle.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Synthetic format assignment for fixture rows (documents have no real
#: blobs; text bytes play the payload).
FORMATS = ("jpeg", "png", "webp")

DECODED_SCHEMA = (
    "doc_id long, fmt string, byte_len long, "
    "width long, height long, feat_mean double"
)


def as_media(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """documents -> (doc_id, fmt, payload binary, byte_len).

    Format is assigned deterministically (doc_id mod 3) — stand-in for
    real magic-byte sniffing, which would be
    ``F.hex(F.substring(payload, 1, 4))`` against known signatures.
    """
    payload = F.col(text_col).cast("binary")
    return docs.select(
        "doc_id",
        F.element_at(F.array(*[F.lit(f) for f in FORMATS]),
                     (F.col("doc_id") % len(FORMATS) + 1).cast("int")).alias("fmt"),
        payload.alias("payload"),
        F.octet_length(payload).cast("long").alias("byte_len"),
    )


def sniff_format(payload: Column) -> Column:
    """Magic-byte container sniffing as a pure Catalyst expression — runs
    in the scan projection, so format predicates prune before any blob
    reaches Python."""
    head = F.substring(payload, 1, 12)

    def sig(off: int, magic: bytes) -> Column:
        return F.substring(head, off, len(magic)) == F.lit(magic)

    return (
        F.when(sig(1, b"BM"), F.lit("bmp"))
        .when(sig(1, b"P6"), F.lit("ppm"))
        .when(sig(1, b"RIFF") & sig(9, b"WAVE"), F.lit("wav"))
        .when(sig(1, b"RIFF") & sig(9, b"WEBP"), F.lit("webp"))
        .when(sig(1, b"\x89PNG"), F.lit("png"))
        .when(sig(1, b"\xff\xd8\xff"), F.lit("jpeg"))
        .otherwise(F.lit("unknown"))
    )


def _parse_bmp(buf: bytes):
    """24-bit uncompressed (BI_RGB) BMP -> (width, height, mean/255)."""
    if len(buf) < 54 or buf[:2] != b"BM":
        return None
    data_off = struct.unpack_from("<I", buf, 10)[0]
    w = struct.unpack_from("<i", buf, 18)[0]
    h_raw = struct.unpack_from("<i", buf, 22)[0]
    bpp = struct.unpack_from("<H", buf, 28)[0]
    comp = struct.unpack_from("<I", buf, 30)[0]
    h = abs(h_raw)
    if comp != 0 or bpp != 24 or w <= 0 or h == 0:
        return None
    row_bytes = (w * 3 + 3) & ~3  # rows pad to 4-byte boundaries
    if len(buf) < data_off + row_bytes * h:
        return None
    px = np.frombuffer(buf, dtype=np.uint8, count=row_bytes * h,
                       offset=data_off).reshape(h, row_bytes)[:, :w * 3]
    mean = float(px.sum(dtype=np.int64)) / px.size / 255.0
    return w, h, mean


def _parse_ppm(buf: bytes):
    """Binary PPM (P6, maxval < 256) -> (width, height, mean/maxval)."""
    hdr = _parse_ppm_header(buf)
    if hdr is None:
        return None
    w, h, maxval, off = hdr
    if len(buf) < off + w * h * 3:
        return None
    px = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3, offset=off)
    mean = float(px.sum(dtype=np.int64)) / px.size / maxval
    return w, h, mean


def _parse_wav(buf: bytes):
    """PCM16 WAV -> (frames, channels, mean |amplitude| / 32768)."""
    if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        return None
    channels = bits = None
    i = 12
    while i + 8 <= len(buf):
        cid = buf[i:i + 4]
        sz = struct.unpack_from("<I", buf, i + 4)[0]
        if cid == b"fmt " and sz >= 16:
            if len(buf) < i + 24:
                return None
            audio_fmt, channels = struct.unpack_from("<HH", buf, i + 8)
            bits = struct.unpack_from("<H", buf, i + 22)[0]
            if audio_fmt != 1:  # PCM only
                return None
        elif cid == b"data":
            if channels in (None, 0) or bits != 16 or len(buf) < i + 8 + sz:
                return None
            n = sz // 2
            if n == 0:
                return None
            smp = np.frombuffer(buf, dtype="<i2", count=n, offset=i + 8)
            mean = float(np.abs(smp.astype(np.int64)).sum()) / n / 32768.0
            return n // channels, channels, mean
        i += 8 + sz + (sz & 1)  # chunks pad to even length
    return None


#: Codec-free formats this module decodes for real, by magic bytes.
_DECODERS = {"bmp": _parse_bmp, "ppm": _parse_ppm, "wav": _parse_wav}


def _decode_one(buf: bytes):
    try:
        if buf[:2] in (b"BM", b"P6"):
            return _DECODERS["bmp" if buf[:2] == b"BM" else "ppm"](buf)
        if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
            return _DECODERS["wav"](buf)
        return None
    except (struct.error, ValueError, IndexError):
        # malformed container bytes decode to NULL features, never a
        # job-aborting task failure — one bad blob in 100 TB is a given
        return None


def decode_features(media: DataFrame, *, decode_stub: bool = True,
                    strict: bool = False) -> DataFrame:
    """Per-payload feature extraction via mapInPandas (Arrow-batched).

    ``decode_stub=False`` REALLY decodes the codec-free containers (BMP
    24-bit, PPM P6, WAV PCM16 — pure struct/numpy parsing, no external
    codec): width/height are the image dims (frames/channels for audio)
    and feat_mean the normalized mean pixel/|sample| value.  Payloads in
    formats that need absent codecs (jpeg/png/webp) get NULL features —
    or raise NotImplementedError under ``strict=True``, which names the
    missing-codec boundary explicitly.

    The stub path derives deterministic fake dimensions/features from
    byte length so fixture tests can assert the full pipeline shape
    without real blobs.
    """

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub:
                n = pdf["byte_len"].astype("int64")
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"],
                    "fmt": pdf["fmt"],
                    "byte_len": n,
                    "width": (n % 640) + 16,          # fake decode
                    "height": ((n * 7) % 480) + 16,   # fake decode
                    "feat_mean": (n % 255) / 255.0,   # fake feature
                })
                continue
            ws, hs, ms = [], [], []
            for buf in pdf["payload"]:
                out = _decode_one(bytes(buf))
                if out is None and strict:
                    raise NotImplementedError(
                        "payload needs an image/audio codec not present in "
                        "this environment (only BMP/PPM/WAV decode "
                        "codec-free); use strict=False to NULL it")
                w, h, m = out if out is not None else (None, None, None)
                ws.append(w)
                hs.append(h)
                ms.append(m)
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "fmt": pdf["fmt"],
                "byte_len": pdf["byte_len"].astype("int64"),
                "width": pd.array(ws, dtype="Int64"),
                "height": pd.array(hs, dtype="Int64"),
                "feat_mean": pd.array(ms, dtype="Float64"),
            })

    return _meta_only(media, decode_stub).mapInPandas(
        _decode, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = (
    "doc_id long, fmt string, src_width long, src_height long, "
    "out_width long, out_height long"
)

#: Fake "video" timing for the frame-sample stub: fixed 33 ms/frame
#: (~30 fps) keeps ts_ms pure-integer arithmetic — no float parity risk
#: in the DuckDB oracle.
FRAME_MS = 33

FRAMES_SCHEMA = "doc_id long, fmt string, n_frames long, frame_idx long, ts_ms long"


def _parse_image_dims(buf: bytes):
    """Header-only (no pixel read) dims for the codec-free image formats
    — what a resize planner needs; O(header) per blob."""
    if buf[:2] == b"BM":
        if len(buf) < 54:
            return None
        w = struct.unpack_from("<i", buf, 18)[0]
        h = abs(struct.unpack_from("<i", buf, 22)[0])
        return (w, h) if w > 0 and h > 0 else None
    if buf[:2] == b"P6":
        out = _parse_ppm_header(buf)
        return out if out is None else out[:2]
    return None


def _parse_ppm_header(buf: bytes):
    vals, i, limit = [], 2, min(len(buf), 4096)
    while len(vals) < 3 and i < limit:
        c = buf[i]
        if c in b" \t\r\n":
            i += 1
        elif c == ord("#"):
            while i < limit and buf[i] not in b"\r\n":
                i += 1
        elif ord("0") <= c <= ord("9"):
            j = i
            while j < limit and ord("0") <= buf[j] <= ord("9"):
                j += 1
            vals.append(int(buf[i:j]))
            i = j
        else:
            return None
    if len(vals) < 3:
        return None
    w, h, maxval = vals
    if w <= 0 or h <= 0 or not 0 < maxval < 256:
        return None
    return w, h, maxval, i + 1  # pixel data offset after one whitespace


def resize_images(media: DataFrame, target_w: int = 256, target_h: int = 256,
                  *, decode_stub: bool = True) -> DataFrame:
    """Aspect-preserving thumbnail resize via mapInPandas.

    The fit-within-box math (min of the two scale ratios, floor to int,
    clamp >=1) is the real algorithm in BOTH paths.  With
    ``decode_stub=False``, source dims come from the actual BMP/PPM
    headers (O(header) per blob — no pixel read); non-image or
    codec-needing payloads get NULL dims.  The stub path derives dims
    from byte_len exactly as :func:`decode_features` does, so the two
    stubs agree.
    """

    def _resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if decode_stub:
                n = pdf["byte_len"].astype("int64")
                src_w = (n % 640) + 16
                src_h = ((n * 7) % 480) + 16
                # fit-within-box: scale by min ratio, never upscale
                ratio = pd.concat([target_w / src_w, target_h / src_h],
                                  axis=1).min(axis=1).clip(upper=1.0)
                out_w = (src_w * ratio).astype("int64").clip(lower=1)
                out_h = (src_h * ratio).astype("int64").clip(lower=1)
            else:
                rows = []
                for b in pdf["payload"]:
                    d = _parse_image_dims(bytes(b))
                    if d is None:
                        rows.append((None, None, None, None))
                    else:
                        w, h = d
                        r = min(target_w / w, target_h / h, 1.0)
                        rows.append((w, h, max(1, int(w * r)),
                                     max(1, int(h * r))))
                src_w, src_h, out_w, out_h = (
                    pd.array(list(c), dtype="Int64") for c in zip(*rows))
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"],
                "fmt": pdf["fmt"],
                "src_width": src_w,
                "src_height": src_h,
                "out_width": out_w,
                "out_height": out_h,
            })

    return _meta_only(media, decode_stub).mapInPandas(_resize, schema=RESIZED_SCHEMA)


def sample_frames(media: DataFrame, every: int = 10,
                  *, decode_stub: bool = True) -> DataFrame:
    """Every-k-th frame sampling: one input payload fans out to N frame
    rows *inside* the Arrow batch (index-repeat, no Python row loop) —
    the real shape of a video-frame extractor, where output cardinality
    is data-dependent and decided per payload.

    Stub frame count is ``byte_len % 90 + 30`` (a real decoder would read
    the container header); ``ts_ms = frame_idx * 33`` (~30 fps).
    """

    def _sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            if not decode_stub:
                raise NotImplementedError(
                    "real frame extraction needs video codecs not present "
                    "in this environment; run with decode_stub=True")
            n_frames = (pdf["byte_len"].astype("int64") % 90) + 30
            reps = ((n_frames - 1) // every + 1).to_numpy()
            idx = np.repeat(np.arange(len(pdf)), reps)
            offsets = np.concatenate([np.arange(r) * every for r in reps]) \
                if len(reps) else np.array([], dtype="int64")
            yield pd.DataFrame({
                "doc_id": pdf["doc_id"].to_numpy()[idx],
                "fmt": pdf["fmt"].to_numpy()[idx],
                "n_frames": n_frames.to_numpy()[idx],
                "frame_idx": offsets,
                "ts_ms": offsets * FRAME_MS,
            })

    return _meta_only(media, decode_stub).mapInPandas(_sample, schema=FRAMES_SCHEMA)


def _meta_only(media: DataFrame, decode_stub: bool) -> DataFrame:
    """Stub paths read only metadata — dropping the binary column here
    lets parquet column pruning skip the blob pages entirely and keeps it
    out of the Arrow transfer.  The real-codec path ships the payload."""
    if decode_stub and "payload" in media.columns:
        return media.drop("payload")
    return media


def sniff_format_py(buf: bytes) -> str:
    """Python twin of :func:`sniff_format` — used to render golden
    expectations for the inline media corpus into the DuckDB oracle (the
    same one-list-two-dialects pattern as the PII corpus)."""
    if buf[:2] == b"BM":
        return "bmp"
    if buf[:2] == b"P6":
        return "ppm"
    if buf[:4] == b"RIFF" and buf[8:12] == b"WAVE":
        return "wav"
    if buf[:4] == b"RIFF" and buf[8:12] == b"WEBP":
        return "webp"
    if buf[:4] == b"\x89PNG":
        return "png"
    if buf[:3] == b"\xff\xd8\xff":
        return "jpeg"
    return "unknown"


def decode_one(buf: bytes):
    """Decode a single payload exactly as the mapInPandas path does:
    (width, height, feat_mean) or None.  Public so oracle generation and
    tests share the worker's code path."""
    return _decode_one(buf)


def synth_bmp(w: int, h: int, rgb: tuple[int, int, int]) -> bytes:
    """Minimal 24-bit BI_RGB BMP filled with one color (fixture/golden
    payloads — the container has no codecs to encode real ones)."""
    row = (w * 3 + 3) & ~3
    pixels = (bytes(rgb[::-1]) * w + b"\x00" * (row - w * 3)) * h
    size = 54 + len(pixels)
    return (b"BM" + struct.pack("<IHHI", size, 0, 0, 54)
            + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0,
                          len(pixels), 2835, 2835, 0, 0) + pixels)


def synth_ppm(w: int, h: int, gray: int) -> bytes:
    """Binary P6 PPM, uniform gray."""
    return (f"P6\n# synthetic\n{w} {h}\n255\n".encode()
            + bytes([gray]) * (w * h * 3))


def synth_wav(samples: list[int], channels: int = 1,
              rate: int = 8000) -> bytes:
    """PCM16 WAV from raw sample values."""
    data = struct.pack(f"<{len(samples)}h", *samples)
    fmt = struct.pack("<HHIIHH", 1, channels, rate,
                      rate * channels * 2, channels * 2, 16)
    return (b"RIFF" + struct.pack("<I", 36 + len(data)) + b"WAVE"
            + b"fmt " + struct.pack("<I", len(fmt)) + fmt
            + b"data" + struct.pack("<I", len(data)) + data)


def media_summary(media: DataFrame) -> DataFrame:
    """Metadata-only rollup — runs without touching payload bytes (column
    pruning drops the blob from the scan)."""
    return (
        media.groupBy("fmt")
        .agg(
            F.count("*").alias("n_files"),
            F.sum("byte_len").alias("total_bytes"),
            F.min("byte_len").alias("min_bytes"),
            F.max("byte_len").alias("max_bytes"),
        )
    )


# --- frame-level audio features ----------------------------------------------

#: Samples per analysis frame (interleaved stream, tail frame partial).
WAV_FRAME_SAMPLES = 8

WAV_FRAMES_SCHEMA = (
    "doc_id long, frame_idx long, n_samples long, energy long, peak long")


def wav_frame_py(buf: bytes, frame: int = WAV_FRAME_SAMPLES):
    """Python twin of the mapInPandas body: PCM16 WAV -> per-frame
    (frame_idx, n_samples, energy=Σs², peak=max|s|) over the interleaved
    sample stream, tail frame partial.  Pure integer outputs (int64 —
    8·32768² per frame is far below the bound), so the golden oracle has
    zero float-parity surface.  Non-WAV/malformed blobs yield no frames.
    """
    try:
        if len(buf) < 12 or buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
            return []
        channels = bits = None
        i = 12
        while i + 8 <= len(buf):
            cid = buf[i:i + 4]
            sz = struct.unpack_from("<I", buf, i + 4)[0]
            if cid == b"fmt " and sz >= 16:
                if len(buf) < i + 24:
                    return []
                audio_fmt, channels = struct.unpack_from("<HH", buf, i + 8)
                bits = struct.unpack_from("<H", buf, i + 22)[0]
                if audio_fmt != 1:
                    return []
            elif cid == b"data":
                if channels in (None, 0) or bits != 16 \
                        or len(buf) < i + 8 + sz:
                    return []
                n = sz // 2
                if n == 0:
                    return []
                smp = np.frombuffer(buf, dtype="<i2", count=n,
                                    offset=i + 8).astype(np.int64)
                out = []
                for f in range(0, n, frame):
                    seg = smp[f:f + frame]
                    out.append((f // frame, int(seg.size),
                                int((seg * seg).sum()),
                                int(np.abs(seg).max())))
                return out
            i += 8 + sz + (sz & 1)
        return []
    except (struct.error, ValueError, IndexError):
        return []


def wav_frame_features(media: DataFrame, *,
                       frame: int = WAV_FRAME_SAMPLES) -> DataFrame:
    """One row PER AUDIO FRAME from each WAV payload — the one->many
    (flatMap/UDTF) shape of multimodal extraction, vs decode_features'
    one->one.  This is the plumbing a real feature pipeline (VAD,
    loudness normalization, silence trimming) sits on: Arrow-batched
    mapInPandas, integer features, frames of non-audio payloads simply
    absent.  At 100 TB the expansion factor is bounded by payload bytes
    / (2·frame), and the stage stays map-only — downstream windowed
    aggregations shuffle frames, never payloads.
    """

    def _frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {"doc_id": [], "frame_idx": [], "n_samples": [],
                    "energy": [], "peak": []}
            for doc_id, buf in zip(pdf["doc_id"], pdf["payload"]):
                if buf is None:  # NULL payload: no frames, not a stage kill
                    continue
                for fi, ns, en, pk in wav_frame_py(bytes(buf), frame):
                    rows["doc_id"].append(doc_id)
                    rows["frame_idx"].append(fi)
                    rows["n_samples"].append(ns)
                    rows["energy"].append(en)
                    rows["peak"].append(pk)
            if rows["doc_id"]:
                yield pd.DataFrame(rows)

    return media.select("doc_id", "payload").mapInPandas(
        _frames, schema=WAV_FRAMES_SCHEMA)


# --- perceptual near-duplicate hashing (dHash) --------------------------------

#: dHash geometry: a GRID_ROWS x GRID_COLS luminance thumbnail, one bit
#: per horizontal gradient -> GRID_ROWS * (GRID_COLS - 1) = 64 bits.
DHASH_GRID_ROWS = 8
DHASH_GRID_COLS = 9
DHASH_BITS = DHASH_GRID_ROWS * (DHASH_GRID_COLS - 1)
#: 4 bands of 16 bits: hamming <= 3 < 4 bands pigeonholes at least one
#: band identical, so candidate pairs come from 4 equi-joins (the
#: simhash_pairs geometry, operators/dedup.py), never an all-pairs join.
DHASH_BANDS = 4
DHASH_BAND_BITS = DHASH_BITS // DHASH_BANDS
DHASH_MAX_HAMMING = 3
#: Stub "thumbnail": a 1 x (DHASH_BITS + 1) histogram of token-bigram
#: mass — 65 bins give 64 adjacent-bin gradients.
DHASH_STUB_BINS = DHASH_BITS + 1

_MIN_LONG = -(1 << 63)  # bit 63's addend; 1<<63 overflows signed 64-bit


def _dhash_bit_addend(bit: int) -> int:
    """Signed-64 addend that sets ``bit`` in a two's-complement sum —
    each bit contributes at most once, so SUM == bitwise OR, with the
    sign bit carried as the min-long literal (both engines reject
    ``1 << 63`` on signed types)."""
    return _MIN_LONG if bit == 63 else 1 << bit


def _gray_grid(buf: bytes):
    """Decode a BMP/PPM payload and reduce it to the dHash luminance
    grid: integer block means (sum // count) over a GRID_ROWS x
    GRID_COLS partition of the image — deterministic, no float.  Returns
    None for codec-needing or malformed payloads."""
    if buf[:2] == b"BM":
        if len(buf) < 54:
            return None
        data_off = struct.unpack_from("<I", buf, 10)[0]
        w = struct.unpack_from("<i", buf, 18)[0]
        h_raw = struct.unpack_from("<i", buf, 22)[0]
        bpp = struct.unpack_from("<H", buf, 28)[0]
        comp = struct.unpack_from("<I", buf, 30)[0]
        h = abs(h_raw)
        if comp != 0 or bpp != 24 or w <= 0 or h == 0:
            return None
        row_bytes = (w * 3 + 3) & ~3
        if len(buf) < data_off + row_bytes * h:
            return None
        px = np.frombuffer(buf, dtype=np.uint8, count=row_bytes * h,
                           offset=data_off).reshape(h, row_bytes)[:, :w * 3]
        px = px.reshape(h, w, 3)
        if h_raw > 0:  # bottom-up storage: hash in visual (top-down) order
            px = px[::-1]
    elif buf[:2] == b"P6":
        hdr = _parse_ppm_header(buf)
        if hdr is None:
            return None
        w, h, _maxval, off = hdr
        if len(buf) < off + w * h * 3:
            return None
        px = np.frombuffer(buf, dtype=np.uint8, count=w * h * 3,
                           offset=off).reshape(h, w, 3)
    else:
        return None
    gray = px.astype(np.int64).sum(axis=2) // 3
    rb = (np.arange(h) * DHASH_GRID_ROWS) // h
    cb = (np.arange(w) * DHASH_GRID_COLS) // w
    sums = np.zeros((DHASH_GRID_ROWS, DHASH_GRID_COLS), dtype=np.int64)
    np.add.at(sums, (rb[:, None], cb[None, :]), gray)
    counts = (np.bincount(rb, minlength=DHASH_GRID_ROWS)[:, None]
              * np.bincount(cb, minlength=DHASH_GRID_COLS)[None, :])
    return sums // np.maximum(counts, 1)


def _grid_to_dhash(grid) -> int:
    h = 0
    for r in range(DHASH_GRID_ROWS):
        for c in range(DHASH_GRID_COLS - 1):
            if grid[r][c + 1] > grid[r][c]:
                h += _dhash_bit_addend(r * (DHASH_GRID_COLS - 1) + c)
    return h


def image_dhash(media: DataFrame, *, decode_stub: bool = True) -> DataFrame:
    """(doc_id, fmt, dhash) — 64-bit difference hash per payload.

    Real path (``decode_stub=False``): decode BMP/PPM pixels, integer
    block-mean to the 8x9 luminance grid, one bit per horizontal
    gradient (mapInPandas, Arrow-batched; codec-needing formats NULL).

    Stub path (default, fixture-oracle-checkable): the "thumbnail" is a
    1 x 65 histogram of token-BIGRAM mass (bin = md5 of the bigram mod
    65), one bit per adjacent-bin gradient — a content-aligned stand-in
    for pixel decode.  Positional character sampling was measured
    useless on the fixture's near-dups (token-level edits shift every
    downstream character: near-dup hamming ~31 vs random ~32 of 64);
    the bigram histogram separates cleanly (near-dup median 0, max 2;
    random median 26, min 12 over 2000 sampled pairs at sf0.01).
    Shape: explode bigrams -> one map-combinable groupBy — the
    simhash_fingerprints geometry (operators/dedup.py); at 100 TB only
    (doc_id, bin) rows reach the single shuffle and the output is two
    longs per image.  Docs with < 2 tokens have no bigram mass and
    hash to NULL (no row), matching the real path's NULL posture for
    undecodable payloads.
    """
    if not decode_stub:
        def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for b in pdf["payload"]:
                    try:
                        g = _gray_grid(bytes(b))
                    except (struct.error, ValueError, IndexError):
                        g = None
                    out.append(None if g is None else _grid_to_dhash(g))
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"], "fmt": pdf["fmt"],
                    "dhash": pd.array(out, dtype="Int64"),
                })
        return media.select("doc_id", "fmt", "payload").mapInPandas(
            _hash, schema="doc_id long, fmt string, dhash long")

    from ..functions.hashing import md5_long
    from .text import ws_tokens

    toks = ws_tokens(F.col("payload").cast("string"))
    n_big = F.greatest(F.size(toks) - 1, F.lit(0))  # slice rejects len<0
    bigrams = F.zip_with(
        F.slice(toks, 1, n_big),
        F.slice(toks, 2, n_big),
        lambda a, b: F.concat(a, F.lit(" "), b))
    binned = (media
              .select("doc_id", "fmt", F.explode(bigrams).alias("bg"))
              .select("doc_id", "fmt",
                      (md5_long(F.col("bg")) % DHASH_STUB_BINS).alias("bin")))
    hist = binned.groupBy("doc_id", "fmt").agg(*[
        F.sum(F.when(F.col("bin") == i, 1).otherwise(0)).alias(f"_h{i}")
        for i in range(DHASH_STUB_BINS)])
    acc = None
    for bit in range(DHASH_BITS):
        term = F.when(F.col(f"_h{bit + 1}") > F.col(f"_h{bit}"),
                      F.lit(_dhash_bit_addend(bit)).cast("long")
                      ).otherwise(F.lit(0).cast("long"))
        acc = term if acc is None else acc + term
    return hist.select("doc_id", "fmt", acc.alias("dhash"))


def dhash_near_dups(media: DataFrame, *, max_hamming: int = DHASH_MAX_HAMMING,
                    decode_stub: bool = True) -> DataFrame:
    """Image near-duplicate pairs by dHash hamming distance,
    band-bucketed: hamming <= 3 over 4 x 16-bit bands implies at least
    one identical band (pigeonhole), so candidates come from 4
    equi-joins — the simhash_pairs geometry (operators/dedup.py), never
    an all-pairs join.  The band key masks after the shift
    (``(dhash >> 16c) & 0xFFFF``), so arithmetic-vs-logical shift of the
    sign bit can never skew bucketing.

    The hamming bound rides in the join condition (post-probe filter):
    far-apart band collisions die before the distinct's shuffle.

    The fingerprint relation is localCheckpointed before banding: the
    stub hash is a ~130-subtree scan projection, and without the
    materialization barrier Catalyst's projection collapse would inline
    one full copy per band key per join side (~12 copies) into the
    self-join — a plan-size explosion at ANY data scale.  Materializing
    (doc_id, dhash) — two longs per image — is also the 100 TB shape:
    hash once in the scan, band/join over the sketch (the
    checkpoint-the-sketch trade documented on simhash_pairs).

    ``max_hamming`` must stay below ``DHASH_BANDS``: the pigeonhole
    recall guarantee (hamming < band count => >= 1 identical band) is
    what makes the banded candidate generation lossless, so a larger
    bound would silently drop qualifying pairs.  Guarded loudly below
    (ADVICE r10)."""
    _check_banded_bound(max_hamming)
    fps = image_dhash(media, decode_stub=decode_stub).filter(
        F.col("dhash").isNotNull()).localCheckpoint()
    banded = _band_fingerprints(fps, hash_col="dhash")
    x, y = banded.alias("x"), banded.alias("y")
    hamming = F.bit_count(F.expr("x.dhash ^ y.dhash"))
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bkey") == F.col("y.bkey"))
               & (F.col("x.doc_id") < F.col("y.doc_id"))
               & (hamming <= max_hamming))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )


def _check_banded_bound(max_hamming: int) -> None:
    """Loud guard for the pigeonhole recall contract shared by every
    Hamming-banded join in this module: candidates are generated from
    DHASH_BANDS equi-joins, which is lossless ONLY for
    hamming < DHASH_BANDS (ADVICE r10)."""
    if not 0 <= max_hamming < DHASH_BANDS:
        raise ValueError(
            f"max_hamming={max_hamming} outside [0, {DHASH_BANDS}): the "
            f"{DHASH_BANDS}-band pigeonhole only guarantees a shared band "
            f"for hamming < {DHASH_BANDS}; candidate generation would be "
            "lossy for a larger bound")


def _band_fingerprints(fps: DataFrame, *, hash_col: str,
                       id_col: str = "doc_id") -> DataFrame:
    """(id, hash) -> (id, hash, band, bkey), one row per 16-bit band.
    The band key masks AFTER the shift, so arithmetic-vs-logical shift
    of the sign bit can never skew bucketing.  Shared by the image and
    audio near-dup joins (and the incremental variant) so the recall
    proof (tests: pigeonhole property) covers one implementation."""
    return fps.select(
        id_col, hash_col,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright(F.col(hash_col), DHASH_BAND_BITS * b)
                    .bitwiseAND(F.lit((1 << DHASH_BAND_BITS) - 1))
                    .alias("bkey"),
            )
            for b in range(DHASH_BANDS)
        ])).alias("s"),
    ).select(id_col, hash_col, "s.band", "s.bkey")


def dhash_incremental(index_media: DataFrame, new_media: DataFrame, *,
                      max_hamming: int = DHASH_MAX_HAMMING,
                      decode_stub: bool = True) -> DataFrame:
    """Daily-ingest image near-dedup (VERDICT r10 next-round #6): flag
    payloads in ``new_media`` whose dHash sits within ``max_hamming``
    of anything already in ``index_media``.  One row per flagged new
    doc: (doc_id, n_matches, matched_index_doc = smallest matching
    index id, best_hamming = closest match) — the
    :func:`~..dedup.incremental_dedup_flags` report shape, perceptual
    edition.

    Scale shape: the asymmetric new-vs-index join of dedup_incremental
    (operators/dedup.py) on the dHash banding — both sides reduce to
    two-longs-per-image fingerprints BEFORE the join, candidates come
    from 4 banded equi-joins probing the (persistent, in production
    pre-banded and bucketed) index side, never new x index all-pairs,
    and the hamming bound rides in the join condition.  Both
    fingerprint relations are localCheckpointed for the same
    plan-explosion reason documented on :func:`dhash_near_dups`.

    Determinism: counts BIGINT over DISTINCT (new, index) pairs (a
    pair colliding in several bands counts once); min() tie-breaks.
    """
    _check_banded_bound(max_hamming)
    new_fps = image_dhash(new_media, decode_stub=decode_stub).filter(
        F.col("dhash").isNotNull())
    idx_fps = image_dhash(index_media, decode_stub=decode_stub).filter(
        F.col("dhash").isNotNull())
    return _fingerprint_incremental(idx_fps, new_fps, hash_col="dhash",
                                    max_hamming=max_hamming)


def ehash_incremental(index_media: DataFrame, new_media: DataFrame, *,
                      max_hamming: int = DHASH_MAX_HAMMING,
                      decode_stub: bool = True) -> DataFrame:
    """Daily-ingest AUDIO near-dedup: :func:`dhash_incremental` with the
    energy-gradient hash (:func:`audio_ehash`) — same asymmetric banded
    join, same report shape, same pigeonhole recall contract.  One
    shared `_fingerprint_incremental` body carries both modalities, so
    the recall property test covers each."""
    _check_banded_bound(max_hamming)
    new_fps = audio_ehash(new_media, decode_stub=decode_stub).filter(
        F.col("ehash").isNotNull())
    idx_fps = audio_ehash(index_media, decode_stub=decode_stub).filter(
        F.col("ehash").isNotNull())
    return _fingerprint_incremental(idx_fps, new_fps, hash_col="ehash",
                                    max_hamming=max_hamming)


def _fingerprint_incremental(idx_fps: DataFrame, new_fps: DataFrame, *,
                             hash_col: str,
                             max_hamming: int) -> DataFrame:
    """Shared body of the incremental perceptual dedups: band both
    fingerprint relations (localCheckpointed first — the plan-explosion
    barrier documented on dhash_near_dups), asymmetric banded equi-join
    new-probe vs index-build, distinct pairs, per-new-doc report.

    CONTRACT: a doc never matches ITSELF even when the new and index
    inputs overlap — the join carries an explicit ``x.doc_id !=
    y.doc_id`` term (ADVICE r11 #1), so callers need not pre-split
    disjointly.  A doc present on both sides can still match its
    OTHER-side near-duplicates, which is the intended re-ingest
    semantics."""
    # the two fingerprint materializations are independent decode
    # passes — overlap their jobs via driver threads (scale.par_build)
    from ..functions.scale import par_build
    new_fps, idx_fps = par_build(lambda: new_fps.localCheckpoint(),
                                 lambda: idx_fps.localCheckpoint())
    x = _band_fingerprints(new_fps, hash_col=hash_col).alias("x")
    y = _band_fingerprints(idx_fps, hash_col=hash_col).alias("y")
    hamming = F.bit_count(F.expr(f"x.{hash_col} ^ y.{hash_col}"))
    pairs = (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bkey") == F.col("y.bkey"))
               & (F.col("x.doc_id") != F.col("y.doc_id"))
               & (hamming <= max_hamming))
        .select(F.col("x.doc_id").alias("doc_id"),
                F.col("y.doc_id").alias("index_doc"),
                hamming.alias("hamming"))
        .distinct()
    )
    return pairs.groupBy("doc_id").agg(
        F.count("*").cast("long").alias("n_matches"),
        F.min("index_doc").alias("matched_index_doc"),
        F.min("hamming").cast("long").alias("best_hamming"))


# --- perceptual near-duplicate hashing, audio (energy-gradient hash) ----------

#: The audio hash reuses the dHash bit geometry: DHASH_BITS + 1 = 65
#: energy buckets over the frame grid, one bit per adjacent-bucket
#: gradient -> 64 bits, banded 4 x 16 with the same pigeonhole recall
#: bound.  Stub "energy profile": token-TRIGRAM mass histogram (the
#: bigram histogram is image dHash's stub — distinct n so the two
#: perceptual layers never emit the same fingerprint for one payload).
AHASH_BUCKETS = DHASH_BITS + 1


def wav_energy_hash_py(buf: bytes, frame: int = WAV_FRAME_SAMPLES):
    """PCM16 WAV -> 64-bit energy-gradient fingerprint (None when the
    payload doesn't decode or has no samples).

    Rides the existing deterministic frame grid (:func:`wav_frame_py`:
    Σs² per ``frame``-sample frame, tail partial): the frame-energy
    sequence is resampled to AHASH_BUCKETS buckets by integer block
    mean (sum // count — the _gray_grid discipline; for fewer frames
    than buckets the mapping repeats frames, so any n >= 1 works), one
    bit per adjacent-bucket energy RISE.  Like dHash's gradients, the
    bit pattern is invariant to uniform gain scaling ONLY in the
    rank-order sense — a constant DC offset or resample shifts few
    buckets, a different recording flips ~half the bits.  Pure integer
    path end to end: Σs² per frame <= frame·32768², and a bucket sums
    < 2³² frames before overflow could matter, far above any payload.
    """
    frames = wav_frame_py(buf, frame)
    if not frames:
        return None
    en = [e for _, _, e, _ in frames]
    n = len(en)
    buckets = []
    for b in range(AHASH_BUCKETS):
        lo = (b * n) // AHASH_BUCKETS
        hi = max(lo + 1, ((b + 1) * n) // AHASH_BUCKETS)
        seg = en[lo:hi]
        buckets.append(sum(seg) // len(seg))
    h = 0
    for bit in range(DHASH_BITS):
        if buckets[bit + 1] > buckets[bit]:
            h += _dhash_bit_addend(bit)
    return h


def audio_ehash(media: DataFrame, *, decode_stub: bool = True) -> DataFrame:
    """(doc_id, fmt, ehash) — 64-bit energy-gradient hash per payload.

    Real path (``decode_stub=False``): decode PCM16 WAV, per-frame
    energies over the :func:`wav_frame_features` grid, integer
    block-mean to 65 buckets, one bit per adjacent-bucket rise
    (mapInPandas, Arrow-batched; undecodable payloads NULL).

    Stub path (default, fixture-oracle-checkable): the "energy
    profile" is a 1 x 65 histogram of token-TRIGRAM mass (bin = md5 of
    the trigram mod 65), one bit per adjacent-bin gradient — the
    image_dhash stub construction at n = 3, so the same token-level
    edit locality holds (one edited token moves <= 3 trigrams of mass;
    unrelated docs scatter ~half the gradients) while staying a
    DIFFERENT fingerprint from the image layer's bigram stub.  Docs
    with < 3 tokens have no trigram mass and hash to NULL (no row),
    matching the real path's NULL posture for undecodable payloads.
    Shape: explode trigrams -> one map-combinable groupBy; at 100 TB
    only (doc_id, bin) rows reach the single shuffle and the output is
    two longs per payload.
    """
    if not decode_stub:
        def _hash(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
            for pdf in batches:
                out = []
                for b in pdf["payload"]:
                    out.append(None if b is None
                               else wav_energy_hash_py(bytes(b)))
                yield pd.DataFrame({
                    "doc_id": pdf["doc_id"], "fmt": pdf["fmt"],
                    "ehash": pd.array(out, dtype="Int64"),
                })
        return media.select("doc_id", "fmt", "payload").mapInPandas(
            _hash, schema="doc_id long, fmt string, ehash long")

    from ..functions.hashing import md5_long
    from .text import ws_tokens

    toks = ws_tokens(F.col("payload").cast("string"))
    n_tri = F.greatest(F.size(toks) - 2, F.lit(0))  # slice rejects len<0
    trigrams = F.zip_with(
        F.zip_with(F.slice(toks, 1, n_tri), F.slice(toks, 2, n_tri),
                   lambda a, b: F.concat(a, F.lit(" "), b)),
        F.slice(toks, 3, n_tri),
        lambda ab, c: F.concat(ab, F.lit(" "), c))
    binned = (media
              .select("doc_id", "fmt", F.explode(trigrams).alias("tg"))
              .select("doc_id", "fmt",
                      (md5_long(F.col("tg")) % AHASH_BUCKETS).alias("bin")))
    hist = binned.groupBy("doc_id", "fmt").agg(*[
        F.sum(F.when(F.col("bin") == i, 1).otherwise(0)).alias(f"_h{i}")
        for i in range(AHASH_BUCKETS)])
    acc = None
    for bit in range(DHASH_BITS):
        term = F.when(F.col(f"_h{bit + 1}") > F.col(f"_h{bit}"),
                      F.lit(_dhash_bit_addend(bit)).cast("long")
                      ).otherwise(F.lit(0).cast("long"))
        acc = term if acc is None else acc + term
    return hist.select("doc_id", "fmt", acc.alias("ehash"))


def audio_near_dups(media: DataFrame, *,
                    max_hamming: int = DHASH_MAX_HAMMING,
                    decode_stub: bool = True) -> DataFrame:
    """Audio near-duplicate pairs by energy-hash hamming distance
    (VERDICT r10 next-round #4) — the media layer's remaining dedup
    gap closed with the :func:`dhash_near_dups` machinery: hamming <=
    max_hamming over 4 x 16-bit bands implies >= 1 identical band
    (pigeonhole, property-tested), so candidates come from 4 banded
    equi-joins — never an all-pairs join — and the hamming bound rides
    in the join condition so far-apart band collisions die before the
    distinct's shuffle.

    The fingerprint relation is localCheckpointed before banding for
    the identical plan-explosion reason documented on
    :func:`dhash_near_dups` (the stub hash is a ~130-subtree scan
    projection; without the barrier Catalyst's projection collapse
    inlines one copy per band key per join side).  Materializing
    (doc_id, ehash) — two longs per payload — is also the 100 TB
    shape: hash once in the scan, band/join over the sketch.
    """
    _check_banded_bound(max_hamming)
    fps = audio_ehash(media, decode_stub=decode_stub).filter(
        F.col("ehash").isNotNull()).localCheckpoint()
    banded = _band_fingerprints(fps, hash_col="ehash")
    x, y = banded.alias("x"), banded.alias("y")
    hamming = F.bit_count(F.expr("x.ehash ^ y.ehash"))
    return (
        x.join(y, (F.col("x.band") == F.col("y.band"))
               & (F.col("x.bkey") == F.col("y.bkey"))
               & (F.col("x.doc_id") < F.col("y.doc_id"))
               & (hamming <= max_hamming))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            F.col("y.doc_id").alias("doc_b"),
            hamming.alias("hamming"),
        )
        .distinct()
    )
